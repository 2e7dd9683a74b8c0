#!/usr/bin/env python3
"""List src/main definitions that nothing else names.

A definition (def/val/var/class/object/trait) outside comments and string
literals is unreached when its name appears nowhere else in src/main/scala
or perfbench/src once comments are stripped (string literals still count as
uses). Entry points that only specs or launch commands name are kept in
KEEP. Also prints the line total of src/main/scala (as `wc -l` counts it).
Usage: python3 scripts/unreached.py   (exit 1 if anything outside KEEP is found)
"""
import collections
import pathlib
import re
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
MAIN, BENCH = ROOT / "src/main/scala", ROOT / "perfbench/src"
KEEP = {
    "Main": "spark-submit entry point",
    "Bench": "contract benchmark main", "BenchWorker": "Bench's child JVM main",
    "Verify": "contract correctness main", "SparkEntry": "the query contract",
    "entry": "SparkEntry's flagship extraction, smoke-checked by the contract",
    "DumpRaw": "scripts/gen_golden.py runs it",
    "GraftExtensions": "named by spark.sql.extensions",
}
DEF = re.compile(r"\b(?:def|val|var|class|object|trait)\s+([A-Za-z_]\w*)")
TOKEN = re.compile(r'"""[\s\S]*?"""|"(?:\\.|[^"\\\n])*"|\'(?:\\.|[^\'\\\n])\'|//[^\n]*|/\*[\s\S]*?\*/')


def strip(src, keep_strings):
    """Blank out comments, and string literals unless `keep_strings`;
    newlines stay, so line numbers hold."""
    def blank(m):
        t = m.group(0)
        return t if keep_strings and t[:2] not in ("//", "/*") else "\n" * t.count("\n")
    return TOKEN.sub(blank, src)


def main():
    sources = {p: p.read_text()
               for d in (MAIN, BENCH) for p in sorted(d.rglob("*.scala"))}
    texts = {p: strip(src, keep_strings=True) for p, src in sources.items()}
    uses = collections.Counter(w for text in texts.values()
                               for w in re.findall(r"[A-Za-z_]\w*", text))
    found = []
    for path, src in sources.items():
        if not path.is_relative_to(MAIN):
            continue
        # definitions are found in code only: "class pair" in a message is none
        text = strip(src, keep_strings=False)
        for m in DEF.finditer(text):
            name = m.group(1)
            if uses[name] == 1:
                line = text.count("\n", 0, m.start()) + 1
                found.append((name, f"{path.relative_to(ROOT)}:{line}"))
    bad = [(n, loc) for n, loc in found if n not in KEEP]
    for name, loc in found:
        print(f"{'keep  ' if name in KEEP else 'UNREACHED'} {name:24} {loc}"
              + (f"  ({KEEP[name]})" if name in KEEP else ""))
    print(f"{len(bad)} unreached outside KEEP")
    main_lines = sum(src.count("\n") for p, src in sources.items() if p.is_relative_to(MAIN))
    print(f"{main_lines} lines in src/main/scala")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
