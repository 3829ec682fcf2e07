#!/usr/bin/env python3
"""Doc-count consistency gate (round-9 VERDICT #3: the manual checklist
failed three rounds running).

Derives the authoritative query inventory from the source itself (every
"qNN_name" -> binding in src/main/scala/graft — the queries and oracleSql
maps share the same key set, the regex dedups via a set) and fails if:

  * README.md / NOTES.md state a query count anywhere ("N queries") that
    differs from the source-derived count;
  * COVERAGE.md lacks a row mentioning some query name;
  * a test-count claim ("N ScalaTest" / "N tests") in README/NOTES differs
    from the count passed via --tests (the number sbt prints; omit to skip);
  * README.md or the verify SKILL names a `runMain graft.X` for which
    src/main has no `object X` with a `main` (a deleted tool still named);
  * README.md's Layout block lists a `X.scala` file (an entry under
    `src/main/scala/graft/`, e.g. `Verify.scala` or `schema/Schemas.scala`)
    that does not exist.

Run from the repo root as the LAST step before the end-of-round docs
commit:  python3 tools/check_docs.py [--tests 302]
Exit 0 = consistent; nonzero prints every mismatch.
"""
import glob
import os
import re
import sys

def main() -> int:
    tests = None
    if "--tests" in sys.argv:
        tests = int(sys.argv[sys.argv.index("--tests") + 1])

    names = set()
    mains = set()
    for f in glob.glob("src/main/scala/graft/**/*.scala", recursive=True):
        with open(f, encoding="utf-8") as fh:
            src = fh.read()
        names |= set(re.findall(r'"(q\d+_[a-z0-9_]+)"\s*->', src))
        pkg = re.search(r"^package\s+([\w.]+)", src, re.M)
        # each top-level object runs to the next one; it is a main when its
        # body defines `def main(`
        for chunk in re.split(r"^(?=object\s)", src, flags=re.M)[1:]:
            obj = re.match(r"object\s+(\w+)", chunk).group(1)
            if re.search(r"\bdef\s+main\s*\(", chunk):
                mains.add(f"{pkg.group(1)}.{obj}" if pkg else obj)
    n = len(names)
    errs = []
    if n == 0:
        errs.append("no query bindings found — run from the repo root")

    docs = {}
    for path in ("README.md", "NOTES.md", "COVERAGE.md"):
        try:
            with open(path, encoding="utf-8") as fh:
                docs[path] = fh.read()
        except OSError as e:
            errs.append(f"{path}: unreadable ({e})")
            docs[path] = ""

    for path in ("README.md", "NOTES.md"):
        # "~50 queries" (approximate/positional talk) is not an inventory
        # claim — only bare counts are held to the source number
        for m in re.finditer(r"(?<![~\d])(\d+)\s+quer(?:y|ies)", docs[path]):
            if int(m.group(1)) != n:
                errs.append(f"{path}: says '{m.group(0)}' but source has {n}")
        if tests is not None:
            for m in re.finditer(r"(\d+)\s+(?:ScalaTest|test case|tests)",
                                 docs[path]):
                if int(m.group(1)) != tests:
                    errs.append(f"{path}: says '{m.group(0)}' but sbt "
                                f"reports {tests}")

    skill = ".claude/skills/verify/SKILL.md"
    for path in ("README.md", skill):
        try:
            with open(path, encoding="utf-8") as fh:
                text = fh.read()
        except OSError as e:
            errs.append(f"{path}: unreadable ({e})")
            continue
        for m in sorted(set(re.findall(r"runMain\s+(graft(?:\.\w+)+)", text))):
            if m not in mains:
                errs.append(f"{path}: names 'runMain {m}' but src/main has "
                            f"no object {m.rsplit('.', 1)[1]} with a main")

    # the Layout block's file entries sit at a two-space indent under
    # `src/main/scala/graft/`; continuation lines are indented deeper
    layout = re.search(r"^## Layout\n+```\n(.*?)^```", docs["README.md"],
                       re.M | re.S)
    if layout is None:
        errs.append("README.md: no fenced block under '## Layout'")
    else:
        for f in re.findall(r"^  ([\w/]+\.scala)\b", layout.group(1), re.M):
            if not os.path.isfile(os.path.join("src/main/scala/graft", f)):
                errs.append(f"README.md: Layout lists '{f}' but "
                            f"src/main/scala/graft/{f} does not exist")

    # COVERAGE.md cites queries in the short "oracle: qNN" form — require
    # each query's qNN token (word-bounded so q10 does not match q100)
    for q in sorted(names):
        num = q.split("_", 1)[0]
        if not re.search(rf"\b{num}\b", docs["COVERAGE.md"]):
            errs.append(f"COVERAGE.md: no row mentions {num} ({q})")

    if errs:
        print(f"source query inventory: {n}")
        for e in errs:
            print("MISMATCH:", e)
        return 1
    print(f"docs consistent: {n} queries"
          + (f", {tests} tests" if tests is not None else ""))
    return 0

if __name__ == "__main__":
    sys.exit(main())
