"""Start a graft main on its own JVM: the built classes plus Spark's jars on
the classpath, and the --add-opens flags Spark needs on JDK 17. The one
launcher of tools/check.py, tools/oracle_bench.py and tools/scale_bench.py.

Each caller passes its heap and its environment. Session settings (UI off,
UTC) are not JVM flags here: graft.Harness sets them on every session.
"""
import glob
import os
import subprocess

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CLASSES = os.path.join(REPO, "target/scala-2.13/classes")
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def run(main, *args, heap, env=None):
    """Run graft main `main` with `args` on a `heap` (e.g. "8g") JVM to its
    end; stdout and stderr come back as text. `env` None inherits ours."""
    cp = ":".join([CLASSES] + glob.glob("/opt/spark/jars/*.jar"))
    opens = [f for p in OPENS for f in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = ["java", *opens, f"-Xmx{heap}", "-cp", cp, main, *args]
    return subprocess.run(cmd, capture_output=True, text=True, env=env)
