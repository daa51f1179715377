"""A benchmark run changes nothing the repository tracks and nothing
under its target/ directory.

It runs the benchmark once (about a minute, longer when it has to build
first), so it runs only when asked:

    PERFBENCH_RUN=1 python3 -m unittest perfbench/tests/test_isolation.py
"""
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))


def git_status():
    return subprocess.run(["git", "status", "--porcelain", "--ignored=no"], cwd=ROOT,
                          capture_output=True, text=True, check=True).stdout


def tree(path):
    """Every file under `path` with its size and modification time."""
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[os.path.relpath(p, path)] = (st.st_size, st.st_mtime_ns)
    return out


@unittest.skipUnless(os.environ.get("PERFBENCH_RUN") == "1", "set PERFBENCH_RUN=1 to run")
@unittest.skipUnless(os.path.isdir(os.path.join(ROOT, ".git")), "needs a git checkout")
class IsolationTest(unittest.TestCase):
    def test_run_leaves_repository_and_target_unchanged(self):
        status, target = git_status(), tree(os.path.join(ROOT, "target"))
        p = subprocess.run([sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
                            "--workload", "presto", "--seed", "1", "--seconds", "1",
                            "--trace", "1"], cwd=ROOT, capture_output=True, text=True,
                           timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        self.assertIn('"correct": true', p.stdout.splitlines()[-1])
        self.assertEqual(git_status(), status)
        self.assertEqual(tree(os.path.join(ROOT, "target")), target)


if __name__ == "__main__":
    unittest.main()
