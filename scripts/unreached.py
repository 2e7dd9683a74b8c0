#!/usr/bin/env python3
"""List src/main definitions that nothing else names.

A definition (def/val/var/class/object/trait) is unreached when its name
appears nowhere else in src/main/scala or perfbench/src once comments are
stripped (string literals still count as uses). Entry points and reference
forms that only specs or launch commands name are kept in KEEP.
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
    "DumpRaw": "scripts/gen_golden.py runs it", "DumpPlans": "writes PLANS.md",
    "GraftExtensions": "named by spark.sql.extensions",
    "cleanReference": "reference form specs compare TextClean.clean against",
    "detectReference": "reference form specs compare LangDetect.detect against",
    "scoresOf": "reference form of LangDetect's per-language scores",
    "detectLangCol": "reference column form of the native lang_detect",
    "hamming": "reference form of the SimHash distance",
    "UrlFetch": "replicated URL tier; wire-in or delete is open",
    "fetch": "UrlFetch's download", "kindOf": "the URL tier's kind dispatch",
}
DEF = re.compile(r"\b(?:def|val|var|class|object|trait)\s+([A-Za-z_]\w*)")
TOKEN = re.compile(r'"""[\s\S]*?"""|"(?:\\.|[^"\\\n])*"|\'(?:\\.|[^\'\\\n])\'|//[^\n]*|/\*[\s\S]*?\*/')


def strip_comments(src):
    def keep_strings(m):
        t = m.group(0)
        return "\n" * t.count("\n") if t[:2] in ("//", "/*") else t
    return TOKEN.sub(keep_strings, src)


def main():
    texts = {p: strip_comments(p.read_text())
             for d in (MAIN, BENCH) for p in sorted(d.rglob("*.scala"))}
    uses = collections.Counter(w for text in texts.values()
                               for w in re.findall(r"[A-Za-z_]\w*", text))
    found = []
    for path, text in texts.items():
        if not path.is_relative_to(MAIN):
            continue
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
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
