"""Unit tests of tools/jvm.py, the one JVM launcher of the tools, and of its
three callers: subprocess.run is stubbed, so no JVM starts.

Usage: python3 -m unittest discover -s tools -p 'test_*.py'
"""
import contextlib
import io
import os
import subprocess
import sys
import tempfile
import unittest
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import jvm  # noqa: E402
import scale_bench  # noqa: E402

with mock.patch.object(sys, "argv", ["tool"]):  # both read sys.argv on import
    import check  # noqa: E402
    import oracle_bench  # noqa: E402


class JvmLaunch(unittest.TestCase):

    def launch(self, call, stdout=""):
        """Run `call` with subprocess.run stubbed by a clean exit printing
        `stdout`; return the stub's one call."""
        done = subprocess.CompletedProcess([], 0, stdout=stdout, stderr="")
        with mock.patch.object(jvm.subprocess, "run", return_value=done) as run, \
                contextlib.redirect_stdout(io.StringIO()), \
                contextlib.redirect_stderr(io.StringIO()):
            call()
        run.assert_called_once()
        return run.call_args

    def assert_command(self, call, main, heap):
        """The command line runs `main` on `heap` with the classes dir first
        on the classpath, every --add-opens pair and no -D property."""
        cmd = call.args[0]
        self.assertEqual(cmd[0], "java")
        cp = cmd[cmd.index("-cp") + 1].split(":")
        self.assertEqual(cp[0], os.path.join(jvm.REPO, "target", "scala-2.13", "classes"))
        opens = [cmd[i + 1] for i, a in enumerate(cmd) if a == "--add-opens"]
        self.assertEqual(len(opens), 13)
        self.assertEqual(opens, [f"java.base/{p}=ALL-UNNAMED" for p in jvm.OPENS])
        self.assertEqual([a for a in cmd if a.startswith("-Xmx")], [f"-Xmx{heap}"])
        self.assertEqual([a for a in cmd if a.startswith("-D")], [])
        self.assertEqual(cmd[cmd.index("-cp") + 2], main)
        self.assertTrue(call.kwargs["capture_output"])
        self.assertTrue(call.kwargs["text"])

    def test_run_passes_main_args_heap_and_env(self):
        call = self.launch(lambda: jvm.run("graft.Explain", "/sf", "q_a", heap="3g", env={"A": "1"}))
        self.assert_command(call, "graft.Explain", "3g")
        self.assertEqual(call.args[0][-3:], ["graft.Explain", "/sf", "q_a"])
        self.assertEqual(call.kwargs["env"], {"A": "1"})

    def test_check_runs_verify_on_8g(self):
        with tempfile.TemporaryDirectory() as d:
            out = os.path.join(d, "verify")
            with mock.patch.object(check, "OUT", out), mock.patch.object(check, "SF", "/sf"):
                call = self.launch(lambda: check.run_verify(only="none"))
        self.assert_command(call, "graft.Verify", "8g")
        self.assertEqual(call.args[0][-2:], ["/sf", out])
        env = call.kwargs["env"]
        self.assertEqual(env["GRAFT_VERIFY_ONLY"], "none")
        self.assertEqual(env["SPARK_GRAFT_CPUS"], os.environ.get("SPARK_GRAFT_CPUS", "8"))

    def test_oracle_bench_dumps_through_verify_on_8g(self):
        with mock.patch.object(oracle_bench, "SF", "/sf"):
            call = self.launch(oracle_bench.dump_oracle_sql)
        self.assert_command(call, "graft.Verify", "8g")
        self.assertEqual(call.args[0][-2:], ["/sf", oracle_bench.OUT])
        self.assertEqual(call.kwargs["env"]["SPARK_GRAFT_CPUS"], "8")

    def test_scale_bench_runs_a_harness_on_48g(self):
        call = self.launch(lambda: scale_bench.run_one("graft.ScaleJoins"),
                           stdout='{"metric":"scale_joins"}\n')
        self.assert_command(call, "graft.ScaleJoins", "48g")
        self.assertEqual(call.args[0][-1], "graft.ScaleJoins")
        self.assertIsNone(call.kwargs["env"])


if __name__ == "__main__":
    unittest.main()
