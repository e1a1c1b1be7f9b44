"""Unit tests of tools/scale_bench.py's write rule, on synthetic records: a
stubbed run_one stands in for the harness JVMs, so no Spark runs.

Usage: python3 -m unittest discover -s tools -p 'test_*.py'
"""
import contextlib
import io
import json
import os
import sys
import tempfile
import unittest
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import scale_bench  # noqa: E402

# harness main -> its record's metric, for the stub
METRIC = {"graft.ScaleBench": "scale_dedup", "graft.ScaleJoins": "scale_joins",
          "graft.ScaleAnn": "scale_ann", "graft.ScaleZOrder": "scale_zorder",
          "graft.ScaleBuckets": "scale_buckets", "graft.ScaleStream": "scale_stream",
          "graft.ScaleDecontam": "scale_decontam", "graft.ScaleGraph": "scale_graph",
          "graft.ScaleFlagship": "scale_flagship", "graft.ScaleEr": "scale_er",
          "graft.ScaleMultimodal": "scale_multimodal"}


def record(main, sec=1.0, events=200000):
    return {"metric": METRIC[main], "events": events, "phase_sec": sec,
            "loads": {"phase": 0.5}, "load_at_start": 0.5, "load_at_end": 0.7}


class ScaleBenchWriteRule(unittest.TestCase):

    def setUp(self):
        tmp = tempfile.TemporaryDirectory()
        self.addCleanup(tmp.cleanup)
        self.out = os.path.join(tmp.name, "SCALE_rNN.json")

    def run_main(self, *args, runs=record):
        """scale_bench.main over `args` with run_one stubbed by `runs`; the
        table is stubbed too, since synthetic records carry no table fields."""
        with mock.patch.object(scale_bench, "run_one", side_effect=runs), \
                mock.patch.object(scale_bench, "table", return_value=""), \
                mock.patch.object(sys, "argv", ["scale_bench.py", self.out, *args]), \
                contextlib.redirect_stdout(io.StringIO()), \
                contextlib.redirect_stderr(io.StringIO()):
            scale_bench.main()

    def stored(self):
        with open(self.out) as f:
            return json.load(f)

    def raw(self):
        with open(self.out, "rb") as f:
            return f.read()

    def store(self, merged):
        with open(self.out, "w") as f:
            json.dump(merged, f, indent=1)

    def test_no_output_path_prints_usage_and_exits_2(self):
        runs = mock.Mock(side_effect=record)
        with mock.patch.object(scale_bench, "run_one", runs), \
                mock.patch.object(sys, "argv", ["scale_bench.py"]), \
                contextlib.redirect_stderr(io.StringIO()) as err:
            with self.assertRaises(SystemExit) as cm:
                scale_bench.main()
        self.assertEqual(cm.exception.code, 2)
        self.assertIn("usage:", err.getvalue())
        runs.assert_not_called()

    def test_sweep_writes_one_run_per_record(self):
        self.run_main()
        self.assertEqual(self.stored(), {METRIC[h]: record(h) for h in scale_bench.HARNESSES})

    def test_sweep_into_an_existing_file_is_refused(self):
        self.store({"scale_joins": record("graft.ScaleJoins")})
        before = self.raw()
        runs = mock.Mock(side_effect=record)
        with self.assertRaises(SystemExit) as cm:
            self.run_main(runs=runs)
        self.assertNotEqual(cm.exception.code, 0)
        runs.assert_not_called()
        self.assertEqual(self.raw(), before)

    def test_only_replaces_a_record_whole(self):
        kept = record("graft.ScaleJoins")
        old = dict(record("graft.ScaleAnn", sec=0.1), n_runs=3, folded_fields=["lsh_sweep"],
                   refolded_fields={"lsh": {"fields": ["lsh_sec"]}}, lsh_sec=0.2)
        self.store({"scale_joins": kept, "scale_ann": old})
        # the new run is slower than the stored one: it replaces it anyway
        self.run_main("--only", "graft.ScaleAnn", runs=lambda h: record(h, sec=9.0))
        self.assertEqual(self.stored(), {"scale_joins": kept,
                                         "scale_ann": record("graft.ScaleAnn", sec=9.0)})

    def test_only_with_changed_input_sizes_is_refused(self):
        self.store({"scale_joins": record("graft.ScaleJoins")})
        before = self.raw()
        with self.assertRaises(SystemExit) as cm:
            self.run_main("--only", "graft.ScaleJoins",
                          runs=lambda h: record(h, sec=0.1, events=100000))
        self.assertNotEqual(cm.exception.code, 0)
        self.assertEqual(self.raw(), before)

    def test_a_failing_harness_keeps_the_records_before_it(self):
        def runs(h):
            if h == "graft.ScaleJoins":
                raise SystemExit(f"{h} failed with exit 1")
            return record(h)
        with self.assertRaises(SystemExit):
            self.run_main(runs=runs)
        self.assertEqual(self.stored(), {"scale_dedup": record("graft.ScaleBench")})


if __name__ == "__main__":
    unittest.main()
