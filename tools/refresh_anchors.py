#!/usr/bin/env python3
"""Refresh source-line anchors in COVERAGE.md.

Anchors look like `src/main/scala/graft/table/IceTable.scala:129` (`newScan`),
`IceTable.scala:2036` (`toDFFor`), or symbol first: `IceBucketExpr`
(`Transforms.scala:373`). The line numbers drift as files are
edited; the anchor map is the round-over-round audit trail, so stale numbers
make audits chase the wrong code. This script finds each anchor, locates the
cited symbol's DEFINITION in the file (def/val/class/object/trait), and
rewrites the line number. Anchors without a parenthesized symbol are only
existence-checked.

Usage: python3 tools/refresh_anchors.py [--check] [files...]
  --check  report drift without rewriting (exit 1 if any)
Defaults to COVERAGE.md.
"""
import re
import sys
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# basename -> unique full path for shorthand anchors like `IceTable.scala:123`
BASENAMES = {}
for p in glob.glob(os.path.join(ROOT, "src/**/*.scala"), recursive=True):
    rel = os.path.relpath(p, ROOT)
    BASENAMES.setdefault(os.path.basename(p), []).append(rel)

ANCHOR = re.compile(
    r"`(?P<sym_first>[\w.]+)`\s*\(`(?P<path_after>[\w./-]+\.scala):(?P<line_after>\d+)`\)"
    r"|`(?P<path>[\w./-]+\.scala):(?P<line>\d+)`"
    r"(?P<symref>\s*\(`(?P<sym>[^`]+)`)?")

DEF = "(?:def|val|lazy val|var|class|object|trait|final class|final case class|case class)"


def resolve_path(path):
    if "/" in path:
        full = os.path.join(ROOT, path)
        if os.path.exists(full):
            return path
        # partial path like `meta/FileIO.scala`: unique suffix match
        cands = [p for p in BASENAMES.get(os.path.basename(path), [])
                 if p.endswith("/" + path) or p == path]
        return cands[0] if len(cands) == 1 else None
    cands = BASENAMES.get(path, [])
    return cands[0] if len(cands) == 1 else None


def find_def_line(relpath, symbol):
    """First definition line of the symbol's last dotted segment."""
    name = re.split(r"[ (:\[]", symbol.split(".")[-1].strip())[0]
    if not re.fullmatch(r"\w+", name):
        return None
    pat = re.compile(r"^\s*(?:private\s+|protected\s+|override\s+|implicit\s+|"
                     r"private\[\w+\]\s+|final\s+)*" + DEF + r"\s+" +
                     re.escape(name) + r"\b")
    with open(os.path.join(ROOT, relpath), encoding="utf-8") as f:
        for i, ln in enumerate(f, 1):
            if pat.match(ln):
                return i
    return None


def refresh(md_path, check_only):
    with open(md_path, encoding="utf-8") as f:
        text = f.read()
    drift, unresolved = [], []

    def sub(m):
        if m.group("sym_first"):
            path, line, sym = (m.group("path_after"), int(m.group("line_after")),
                               m.group("sym_first"))
        else:
            path, line, sym = m.group("path"), int(m.group("line")), m.group("sym")
        rel = resolve_path(path)
        if rel is None:
            unresolved.append(f"{path}:{line} (file not found / ambiguous)")
            return m.group(0)
        if not sym:
            return m.group(0)  # existence-checked only
        new = find_def_line(rel, sym)
        if new is None:
            unresolved.append(f"{path}:{line} ({sym}: definition not found)")
            return m.group(0)
        if new != line:
            drift.append(f"{path}:{line} -> :{new} ({sym})")
        return m.group(0).replace(f"`{path}:{line}`", f"`{path}:{new}`", 1)

    out = ANCHOR.sub(sub, text)
    for d in drift:
        print("DRIFT", d)
    for u in unresolved:
        print("SKIP ", u)
    if not check_only and out != text:
        with open(md_path, "w", encoding="utf-8") as f:
            f.write(out)
        print(f"rewrote {len(drift)} anchor(s) in {md_path}")
    return 1 if (check_only and drift) else 0


if __name__ == "__main__":
    args = [a for a in sys.argv[1:] if a != "--check"]
    check = "--check" in sys.argv[1:]
    rc = 0
    for f in (args or [os.path.join(ROOT, "COVERAGE.md")]):
        rc |= refresh(f, check)
    sys.exit(rc)
