"""Fails when `src/main` reads an environment variable or a system property
outside the deployment set: python3 -m unittest discover -s scripts

The program's behaviour is chosen by its arguments and its data. The only
outside settings it reads are where it runs and what it reports:

- `SPARK_GRAFT_CPUS`: local worker threads (`GraftSession.cpus`);
- `SPARK_GRAFT_SF_DIR`: the data directory `graft.Bench` times;
- `SPARK_GRAFT_BENCH_OUT`: where `graft.Bench` writes its report file;
- `GRAFT_CANARY_IO_IDLE`: the idle-I/O canary capture scripts export to
  `graft.Bench`.

A read must name its variable with a string literal; a read through a
computed name (a helper that takes the name) counts as outside the set.
Comments are stripped first, so a comment may name any variable.
"""
import os
import pathlib
import re
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from unreached import strip_comments  # noqa: E402

ALLOWED = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_BENCH_OUT",
           "GRAFT_CANARY_IO_IDLE"}

READ = re.compile(r"\bsys\.(?:env|props)\b|\bSystem\.(?:getenv|getProperty|getProperties)\b")
NAMED = re.compile(r"(?:sys\.(?:env|props)(?:\.(?:get|getOrElse|contains))?"
                   r"|System\.(?:getenv|getProperty))\s*\(\s*\"([^\"]*)\"")

REPO = pathlib.Path(__file__).resolve().parent.parent


def outside_reads(root):
    """(path, line, name) of every read under `root` not in ALLOWED; name is
    None when the read does not name its variable with a literal."""
    found = []
    for path in sorted(pathlib.Path(root).rglob("*")):
        if path.suffix not in (".scala", ".java"):
            continue
        text = strip_comments(path.read_text())
        for m in READ.finditer(text):
            named = NAMED.match(text, m.start())
            name = named.group(1) if named else None
            if name not in ALLOWED:
                found.append((str(path), text.count("\n", 0, m.start()) + 1, name))
    return found


class EnvReadsTest(unittest.TestCase):
    def test_src_main_reads_only_the_deployment_set(self):
        self.assertEqual(outside_reads(REPO / "src" / "main"), [])

    def test_outside_and_computed_reads_are_found(self):
        with tempfile.TemporaryDirectory() as tmp:
            pathlib.Path(tmp, "A.scala").write_text(
                'object A {\n'
                '  // sys.env.get("IN_A_COMMENT") is fine\n'
                '  val cpus = sys.env.get("SPARK_GRAFT_CPUS")\n'
                '  val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "x")\n'
                '  val full = sys.props.contains("GRAFT_FULL_PAIRS")\n'
                '  def envOrProp(n: String) = sys.env.get(n).orElse(sys.props.get(n))\n'
                '  val home = System.getenv("HOME")\n'
                '}\n')
            got = [(line, name) for _, line, name in outside_reads(tmp)]
        self.assertEqual(got, [(5, "GRAFT_FULL_PAIRS"), (6, None), (6, None), (7, "HOME")])


if __name__ == "__main__":
    unittest.main()
