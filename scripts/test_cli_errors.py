"""Runs `graft.Main` on each input it refuses and checks that it exits 1 with
its message before a Spark session starts:
python3 -m unittest discover -s scripts

Each case runs `scripts/run.sh graft.Main <args>` on the compiled classes
(`sbt compile` first; the test is skipped without them). A run that started
a session would log Spark lines to stderr and take seconds; a refused run
prints its one message line and nothing else.
"""
import os
import pathlib
import subprocess
import tempfile
import unittest

REPO = pathlib.Path(__file__).resolve().parent.parent
CLASSES = REPO / "target" / "scala-2.13" / "classes"
USAGE = ("Usage: graft.Main <freetrade|ii|fidelity|bullionvault> <path> "
         "[out=data.txt] [--distinct]")


def run_main(*args):
    """(exit code, stdout, stderr) of one `graft.Main` run."""
    env = dict(os.environ, GRAFT_XMX="256m")
    p = subprocess.run([str(REPO / "scripts" / "run.sh"), "graft.Main", *args],
                       capture_output=True, text=True, env=env, timeout=120)
    return p.returncode, p.stdout, p.stderr


@unittest.skipUnless(CLASSES.is_dir(), "needs the compiled classes (sbt compile)")
class CliErrorsTest(unittest.TestCase):
    def setUp(self):
        tmp = tempfile.TemporaryDirectory()
        self.addCleanup(tmp.cleanup)
        self.tmp = pathlib.Path(tmp.name)
        self.export = self.tmp / "export.csv"
        self.export.write_text("Title,Type\n")
        self.out = str(self.tmp / "data.txt")

    def assertRefused(self, args, message):
        code, out, err = run_main(*args)
        self.assertEqual(code, 1, err)
        self.assertEqual(err.strip(), message)
        self.assertNotIn("Spark", err)
        self.assertEqual(out, "")
        self.assertFalse(os.path.exists(self.out))

    def test_usage_error(self):
        self.assertRefused(["freetrade"], USAGE)

    def test_unknown_type(self):
        self.assertRefused(["nope", str(self.export), self.out], "Unknown type: nope")

    def test_missing_path(self):
        missing = str(self.tmp / "none.csv")
        self.assertRefused(["freetrade", missing, self.out], f"No such file or folder: {missing}")

    def test_csv_broker_given_a_directory(self):
        self.assertRefused(["ii", str(self.tmp), self.out], f"Expected a CSV file: {self.tmp}")

    def test_bullionvault_folder_without_eml(self):
        self.assertRefused(["bullionvault", str(self.tmp), self.out],
                           f"Folder '{self.tmp}' does not contain any .eml files")


if __name__ == "__main__":
    unittest.main()
