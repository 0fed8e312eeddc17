"""Turns one run's raw output (result.json, and for a traced run spans.json
+ jobs.json) into the benchmark's metrics.

    python3 perfbench/report.py DIR     # prints both tables for a run dir

End-to-end metrics come from the op samples of an untraced run. Per-layer
metrics come from the spans of a traced run:

* a span's self time is its duration minus the part of it that its child
  spans cover; a layer's time is the self time of its spans (the first
  dotted segment of a span name is its layer);
* times are means per traced op over every traced op of the run;
* counts are totals over the run's first round of ops (all traced), so a
  fixed seed repeats them exactly whatever the run length;
* Spark jobs are attributed to the span whose id was their job group.
"""
import json
import math
import statistics
import sys
from pathlib import Path

LAYERS = ("pipeline", "relational", "jdbc", "commit", "maint", "read", "mv",
          "dedup", "ann", "scrub")


def p50(xs):
    return statistics.median(xs) if xs else float("nan")


def p90(xs):
    """Nearest-rank 90th percentile; None below 100 samples (fewer than ten
    samples would lie beyond it)."""
    if len(xs) < 100:
        return None
    s = sorted(xs)
    return s[math.ceil(0.9 * len(s)) - 1]


def load(run_dir: Path, name: str):
    return json.loads((run_dir / name).read_text())


def end_to_end(res):
    """[(name, value, unit)] for every end-to-end metric the workload has."""
    ops = res["ops"]
    # latencies over the run's first `min_ops` ops: the same seeded ops on
    # every commit, however many more a faster program fits in the run
    good = [o for o in ops[:res["min_ops"]] if o["ok"] and not o["traced"]]
    lat = [o["lat_s"] for o in good]
    out = [("setup_s", statistics.median(res["setup_s_reps"]), "s"),
           ("op_p50_s", p50(lat), "s")]
    tail = p90(lat)
    out.append(("op_p90_s", tail, "s") if tail is not None
               else ("op_p90_s", None, f"s (n={len(lat)} < 100, not reported)"))
    out += [("ops_timed", len(lat), "count"),
            ("error_rate", sum(not o["ok"] for o in ops) / max(1, len(ops)), "ratio"),
            ("heap_peak_mb", max(res["heap_mb_after_gc"]), "MB")]
    wl = res["workload"]
    if wl in ("recall_ingest", "corpus_curation"):
        out.append(("rows_per_s", sum(o["rows"] for o in ops if o["ok"]) / res["timed_s"],
                    "rows/s"))
    if wl == "recall_ingest":
        out.append(("read_after_write_p50_s",
                    p50([o["extra"]["read_after_write_s"] for o in good]), "s"))
        out.append(("stored_bytes_per_row", res["metrics"]["stored_bytes_per_row"], "bytes"))
    if wl == "lakehouse_query":
        for kind in ("point", "scan_agg", "join_agg", "mv_rollup"):
            out.append((f"{kind}_p50_s", p50([o["lat_s"] for o in good if o["kind"] == kind]),
                        "s"))
    if wl == "corpus_curation":
        for m in ("dedup_recall", "ann_recall_at_10"):
            out.append((m, p50([o["extra"][m] for o in ops if o["ok"]]), "ratio"))
    return out


def _union(intervals):
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def per_layer(res, spans, jobs):
    """{name: (value, unit)}: the per-layer table of a traced run."""
    by_id = {s["id"]: s for s in spans}
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def dur(s):
        return (s["end_ms"] - s["start_ms"]) / 1e3

    def self_s(s):
        kids = [(max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
                for c in children.get(s["id"], [])]
        return dur(s) - _union(kids) / 1e3

    def layer_of(s):
        """Innermost enclosing span (itself included) that names a layer."""
        while s is not None:
            if s["name"].split(".")[0] in LAYERS:
                return s
            s = by_id.get(s["parent"])
        return None

    op_spans = sorted((s for s in spans if s["name"] == "bench.op"), key=lambda s: s["op"])
    n = max(1, len(op_spans))
    window = {s["op"] for s in op_spans if s["op"] < res["round"]}
    traced = {s["op"] for s in op_spans}
    in_ops = [s for s in spans if s["op"] in traced]
    in_win = [s for s in spans if s["op"] in window]

    def span_of(job):
        return by_id.get(int(job["span"])) if job["span"].isdigit() else None

    op_windows = [(s["start_ms"], s["end_ms"]) for s in op_spans]
    job_rows = []  # (job, span or None) for every job of a traced op
    for j in jobs:
        s = span_of(j)
        if s is not None and s["op"] in traced:
            job_rows.append((j, s))
        elif s is None and j["span"] != "untraced" and any(
                a <= j["start_ms"] <= b for a, b in op_windows):
            job_rows.append((j, None))
    win_jobs = [(j, s) for j, s in job_rows if s is not None and s["op"] in window]

    def jobs_under(prefix, rows):
        out = []
        for j, s in rows:
            while s is not None:
                if s["name"] == prefix or s["name"].startswith(prefix + "."):
                    out.append(j)
                    break
                s = by_id.get(s["parent"])
        return out

    def counter(key, spans_):
        return sum(s["counters"].get(key, 0.0) for s in spans_)

    m = {}
    # self time per span name and per layer, mean per traced op
    names = sorted({s["name"] for s in in_ops if s["name"].split(".")[0] in LAYERS})
    for name in names:
        m[f"{name}_s"] = (sum(self_s(s) for s in in_ops if s["name"] == name) / n, "s")
    op_time = sum(dur(s) for s in op_spans)
    for layer in LAYERS:
        busy = sum(self_s(s) for s in in_ops if s["name"].split(".")[0] == layer)
        m[f"{layer}.busy_s"] = (busy / n, "s")
        m[f"{layer}.share"] = (100.0 * busy / op_time if op_time else 0.0, "%")
    refresh = [dur(s) for s in spans if s["name"] == "mv.refresh"]
    m["mv.refresh_s"] = (statistics.median(refresh) if refresh else 0.0, "s")

    # read layer
    read_spans = [s for s in in_ops if s["name"].startswith("read.")]
    # the tracker's phase clock is coarser than the span's: clip to the span
    plan = sum(min(dur(s), s["counters"].get("read.plan_s", 0.0)) for s in read_spans)
    m["read.plan_s"] = (plan / n, "s")
    m["read.exec_s"] = ((sum(dur(s) for s in read_spans) - plan) / n, "s")
    win_read = jobs_under("read", win_jobs)
    m["read.jobs"] = (len(win_read), "count")
    m["read.bytes_scanned"] = (sum(j["bytes_read"] for j in win_read), "bytes")
    returned = counter("read.rows_returned", [s for s in in_win if s["name"].startswith("read.")])
    m["read.rows_scanned_per_row_returned"] = (
        sum(j["records_read"] for j in win_read) / returned if returned else 0.0, "ratio")

    # ingest layers
    rows_in = counter("pipeline.rows_in", in_win)
    appended = counter("jdbc.rows_appended", in_win)
    m["pipeline.rows_in"] = (rows_in, "count")
    m["relational.fresh_ratio"] = (appended / rows_in if rows_in else 0.0, "ratio")
    m["jdbc.keys_scanned"] = (sum(j["records_read"] for j in jobs_under("jdbc.read_keys", win_jobs)),
                              "count")
    m["jdbc.rows_appended"] = (appended, "count")

    # commit layer
    commit_spans = [s for s in in_ops if s["name"].startswith("commit.")]
    commit_jobs = jobs_under("commit", job_rows)
    m["commit.jobs"] = (len(jobs_under("commit", win_jobs)), "count")
    gap = sum(dur(s) for s in commit_spans) - _union(
        [(j["start_ms"], j["end_ms"]) for j in commit_jobs]) / 1e3
    m["commit.driver_gap_s"] = (gap / n, "s")
    for key, unit in (("commit.files_added", "count"), ("commit.bytes_written", "bytes"),
                      ("commit.conflicts", "count"), ("dedup.pairs_found", "count")):
        m[key] = (counter(key, in_win), unit)
    m["maint.bytes_rewritten"] = (sum(j["bytes_written"]
                                      for j in jobs_under("maint.compact", win_jobs)), "bytes")
    for key in ("table.files_live", "table.delete_files_live"):
        last = [s["counters"][key] for s in sorted(in_win, key=lambda s: s["op"])
                if key in s["counters"]]
        m[key] = (last[-1] if last else 0.0, "count")
    mv = res["metrics"]
    m["mv.hit_ratio"] = (mv["mv_hits"] / mv["mv_rollup_ops"]
                         if mv.get("mv_rollup_ops") else 0.0, "ratio")

    # Spark layer
    all_jobs = [j for j, _ in job_rows]
    wj = [j for j, _ in win_jobs]
    m["spark.jobs"] = (len(wj), "count")
    for key, unit in (("tasks", "count"), ("failed_tasks", "count"),
                      ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes")):
        m[f"spark.{key}"] = (sum(j[key] for j in wj), unit)
    m["spark.task_s"] = (sum(j["task_s"] for j in all_jobs) / n, "s")
    m["spark.gc_s"] = (sum(j["gc_s"] for j in all_jobs) / n, "s")
    gaps = []
    for s in op_spans:
        mine = [(j["start_ms"], j["end_ms"]) for j, js in job_rows
                if (js is not None and js["op"] == s["op"]) or
                (js is None and s["start_ms"] <= j["start_ms"] <= s["end_ms"])]
        gaps.append(dur(s) - _union(mine) / 1e3)
    m["spark.driver_gap_s"] = (sum(gaps) / n, "s")
    job_s = sum((j["end_ms"] - j["start_ms"]) / 1e3 for j in all_jobs)
    outside = sum((j["end_ms"] - j["start_ms"]) / 1e3 for j, s in job_rows
                  if s is None or layer_of(s) is None)
    m["trace.unattributed_job_share"] = (outside / job_s if job_s else 0.0, "ratio")
    lat = lambda t: [o["lat_s"] for o in res["ops"][:res["min_ops"]]
                     if o["ok"] and o["traced"] == t]
    m["trace.overhead"] = (p50(lat(True)) / p50(lat(False)), "ratio")
    return m


def table(rows):
    return "\n".join(f"  {name:<40} {('-' if v is None else f'{v:.6g}'):>14} {unit}"
                     for name, v, unit in rows)


if __name__ == "__main__":
    d = Path(sys.argv[1])
    res = load(d, "result.json")
    print(table(end_to_end(res)))
    if (d / "spans.json").exists():
        pl = per_layer(res, load(d, "spans.json"), load(d, "jobs.json"))
        print(table((k, v, u) for k, (v, u) in sorted(pl.items())))
