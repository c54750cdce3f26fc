#!/usr/bin/env python3
"""List public defs in src/main/scala that nothing outside src/test calls.

A def that is not private, protected or override is reported when its name
occurs nowhere in src/main/scala + lakebench/src except at def sites, after
comments and string literals are blanked (`${...}` and `$name` splices are
kept). `main` and `apply` are skipped: the JVM and `Name(...)` call them.
Exits 1 on any hit not in ALLOW.

Usage, from the repo root: python3 tools/spec_only_defs.py [repo_dir]
"""
import pathlib
import re
import sys

# reason -> the File.def entries (file stem, def name) it keeps in src/main
REASONS = {
    "the SparkEntry query contract": "SparkEntry.entry",
    "the reference bridge pair (SURVEY 3.c)": "Aggregates.loadExecAndFilter",
    "legacy closed-range read (SURVEY 7.5 item 2)": "Lake.readRangeClosed",
    "the offline model a streaming scorer loads": "Corpus.unigramLm",
    "the reference's backward fill (SURVEY W6)": "Fill.bfill",
    "the tokenizer-free subword count": "TextAnalysis.subwordCount",
    "the reference's bar-end stamp shift": "SynthSource.barEndShift",
    "a deployment setting": "StateStores.enableChangelogRocksDb",
    "anonymous Callable.call, matched by name only": "Lake.call",
    "connector seam": "Connectors.cryptoContract Connectors.withRetry429 "
                      "Connectors.maybeWait Connectors.withAggTradesDowngrade Connectors.fetchDay",
    "streaming face": "CandleStream.m1Bars CandleStream.writeToLake DocumentStream.cleaned "
                      "EnrichStream.pointsInWindows Scd2Stream.withOpenVersions SessionStream.sessions "
                      "DedupStream.simhashBuckets DedupStream.anchorCandidates SketchStream.countMin "
                      "SketchStream.sampleQuantiles TransitionStream.attributions",
}
ALLOW = {key: why for why, keys in REASONS.items() for key in keys.split()}

TOKEN = re.compile(r'//[^\n]*|/\*|(\b[a-z]\w*)?("""|")|\'(?:\\.[^\']*|[^\'\\\n])\'')
SPLICE = re.compile(r"\$(?:\{|([A-Za-z_]\w*))")


def strip(src):
    """Blank comments and string literals, keeping newlines and splices."""
    out, i = [], 0
    while m := TOKEN.search(src, i):
        out.append(src[i:m.start()])
        i = m.end()
        if not m.group(2):  # comment or char literal
            depth = m.group() == "/*"
            while depth and i < len(src):
                depth += src.startswith("/*", i) - src.startswith("*/", i)
                i += 2 if src.startswith(("/*", "*/"), i) else 1
            out.append(" " + "\n" * src.count("\n", m.start(), i))
            continue
        quote, interp = m.group(2), m.group(1) is not None
        while i < len(src) and not src.startswith(quote, i):
            s = SPLICE.match(src, i) if interp else None
            if s and s.group(1):
                out.append(f" {s.group(1)} ")
                i = s.end()
            elif s:  # ${ ... }: keep the expression, matching braces
                depth, j = 1, s.end()
                while depth and j < len(src):
                    depth += {"{": 1, "}": -1}.get(src[j], 0)
                    j += 1
                out.append(f" {strip(src[s.end():j - 1])} ")
                i = j
            else:
                out.append("\n" if src[i] == "\n" else "")
                i += 2 if src[i] == "\\" and quote == '"' else 1
        i += len(quote)
        out.append(" ")
    return "".join(out) + src[i:]


DEF = re.compile(r"^[ \t]*((?:@\w+\s+|\w+(?:\[\w+\])?\s+)*)def\s+([A-Za-z_]\w*)", re.M)


def main(root):
    root = pathlib.Path(root)
    main_files = sorted((root / "src/main/scala").rglob("*.scala"))
    files = main_files + sorted((root / "lakebench/src").rglob("*.scala"))
    uses, defs = {}, []
    for p in files:
        text = strip(p.read_text())
        for name in re.findall(r"\b[A-Za-z_]\w*\b", text):
            uses[name] = uses.get(name, 0) + 1
        for m in DEF.finditer(text):
            uses[m.group(2)] -= 1
            if p in main_files and not re.search(r"\b(private|protected|override)\b", m.group(1)):
                defs.append((p, text.count("\n", 0, m.start()) + 1, m.group(2)))
    hits = [d for d in defs if uses[d[2]] == 0 and d[2] not in ("main", "apply")]
    new = 0
    for p, line, name in hits:
        why = ALLOW.get(f"{p.stem}.{name}")
        new += why is None
        print(f"{p.relative_to(root)}:{line}: {name}" + (f"  [allowed: {why}]" if why else ""))
    print(f"{len(hits)} spec-only defs, {new} not allowlisted")
    return 1 if new else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else "."))
