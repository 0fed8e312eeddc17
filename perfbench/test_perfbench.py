"""Tests of the benchmark itself.

    python3 perfbench/test_perfbench.py            # all (builds, starts JVMs)
    python3 perfbench/test_perfbench.py Reporter   # the trace reporter only

* Generators: the same seed gives identical input digests, two seeds give
  different ones, for every workload.
* Reporter: self time, job attribution and count windows on a hand-made
  trace.
"""
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import report  # noqa: E402
import run  # noqa: E402


def digest(classpath, workload, seed):
    out = build.OUT / "digest"
    out.mkdir(parents=True, exist_ok=True)
    cmd = run.jvm_command(classpath, out, ["--workload", workload, "--seed", str(seed),
                                           "--digest", "--out", str(out)])
    p = subprocess.run(cmd, cwd=out, capture_output=True, text=True, timeout=170)
    assert p.returncode == 0, p.stderr[-2000:]
    line = [ln for ln in p.stdout.splitlines() if ln.startswith("digest ")][-1]
    return line.split()[-1]


class Generators(unittest.TestCase):
    def test_seeded_inputs(self):
        cp, _ = build.build()
        for wl in run.WORKLOADS:
            with self.subTest(workload=wl):
                a, b, c = digest(cp, wl, 7), digest(cp, wl, 7), digest(cp, wl, 8)
                self.assertEqual(a, b, "same seed must give the same inputs")
                self.assertNotEqual(a, c, "another seed must give other inputs")


def span(id_, parent, name, op, start, end, **counters):
    return {"id": id_, "parent": parent, "name": name, "op": op,
            "start_ms": start, "end_ms": end, "counters": counters}


def job(id_, span_id, start, end, **kw):
    j = {"job": id_, "span": str(span_id), "start_ms": start, "end_ms": end, "tasks": 1,
         "failed_tasks": 0, "task_s": 0.1, "gc_s": 0.0, "shuffle_bytes": 10,
         "spill_bytes": 0, "bytes_read": 100, "records_read": 50, "bytes_written": 0}
    j.update(kw)
    return j


class Reporter(unittest.TestCase):
    def setUp(self):
        # rounds of one op: ops 0 and 2 traced, op 1 untraced
        self.spans = [
            span(1, 0, "bench.op", 0, 0, 1000),
            span(2, 1, "pipeline.parse", 0, 0, 400, **{"pipeline.rows_in": 10}),
            span(3, 2, "read.point", 0, 100, 300, **{"read.plan_s": 0.05,
                                                     "read.rows_returned": 5}),
            span(4, 0, "bench.op", 2, 2000, 2500),
            span(5, 4, "pipeline.parse", 2, 2000, 2100, **{"pipeline.rows_in": 20}),
        ]
        self.jobs = [job(1, 3, 150, 250), job(2, 1, 500, 600),
                     job(3, "untraced", 1200, 1300), job(4, 5, 2000, 2050)]
        self.res = {"round": 1, "min_ops": 3, "metrics": {},
                    "ops": [{"ok": True, "traced": True, "lat_s": 1.0},
                            {"ok": True, "traced": False, "lat_s": 0.8},
                            {"ok": True, "traced": True, "lat_s": 0.5}]}

    def test_self_time_excludes_children(self):
        m = report.per_layer(self.res, self.spans, self.jobs)
        # parse: (0.4 - 0.2 child) + 0.1, over two traced ops
        self.assertAlmostEqual(m["pipeline.parse_s"][0], 0.15)
        self.assertAlmostEqual(m["read.plan_s"][0], 0.025)
        self.assertAlmostEqual(m["read.exec_s"][0], 0.075)

    def test_counts_cover_the_window_only(self):
        m = report.per_layer(self.res, self.spans, self.jobs)
        self.assertEqual(m["pipeline.rows_in"][0], 10)
        self.assertEqual(m["spark.jobs"][0], 2)
        self.assertEqual(m["read.rows_scanned_per_row_returned"][0], 10)

    def test_job_outside_layer_spans_is_unattributed(self):
        m = report.per_layer(self.res, self.spans, self.jobs)
        # job 2 ran in bench.op itself (0.1 s of 0.25 s of traced-op job time);
        # job 3 belongs to an untraced op and is left out
        self.assertAlmostEqual(m["trace.unattributed_job_share"][0], 0.4)
        self.assertAlmostEqual(m["trace.overhead"][0], 0.75 / 0.8)

    def test_p90_needs_100_samples(self):
        self.assertIsNone(report.p90([1.0] * 99))
        self.assertEqual(report.p90(list(range(1, 101))), 90)


if __name__ == "__main__":
    unittest.main()
