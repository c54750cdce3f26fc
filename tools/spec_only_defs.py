#!/usr/bin/env python3
"""Two checks on the defs of src/main/scala.

1. Spec-only defs. A def that is not private, protected or override is
   reported when its name occurs nowhere in src/main/scala + lakebench/src
   except at def sites. `main` and `apply` are skipped: the JVM and
   `Name(...)` call them.
2. One-value defaults. A defaulted parameter of a src/main/scala def is
   reported when no call in src/main/scala, lakebench/src or src/test/scala
   passes it a value other than its default: the option has one value in
   use and belongs in the operator body as a constant. Calls are matched by
   def name (`Owner.name(...)` only to the def of that object, when it has
   one), and arguments by parameter name or position; an argument equal to
   the default (same text up to whitespace, or the same number) does not
   count as a second value. A bare-identifier argument counts as the values
   it stands for: a parameter of the enclosing def forwards what that def's
   callers pass (or its default), a `val` its right-hand side, a generator
   or lambda over `Seq(...)` each element; an identifier with no binding in
   sight counts as no value and the hit says so. Arguments inside an
   `intercept[...]` block are values the operator rejects, not values in
   use. Constructor parameters are not scanned, and `Name(...)` calls of an
   `apply` are invisible to the name match.

Both checks blank comments and string literals first (`${...}` and `$name`
splices are kept) and exit 1 on any hit not in their allowlist.

Usage, from the repo root: python3 tools/spec_only_defs.py [repo_dir] [--per-file]
(--per-file also prints each file's defaulted and one-value counts.)
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

# reason -> the File.def.param entries whose one value in use stays settable
PARAM_REASONS = {
    "a deployment setting: the connector venue or contract field":
        "Connectors.cryptoContract.exchange Connectors.fetch.exchange "
        "Connectors.fetchDay.exchange Connectors.withAggTradesDowngrade.whatToShow",
    "a deployment setting: the lake partition value the caller owns":
        "Levels.upsert.market CandleStream.writeToLake.source",
    "the reference's columns= projection (SURVEY S5)":
        "Lake.readRangeClosed.columns Lake.readUnified.columns",
    "a lakebench call spells it out, so the parameter stays for that call":
        "Gaps.minuteGaps.stepSeconds Gaps.synthFill.stepSeconds",
    "an apply parameter, checked by hand: RawBarFrame(...) passes 0 and 60000":
        "Connectors.apply.tsShiftMs",
    "an apply parameter, checked by hand: LiquidityProfiles(...) callers name the profile":
        "OrLevels.apply.name",
    "set only by its own guard test (a spec checks that the require rejects bands = 5)":
        "Dedup.minhashCandidates.bands",
}
PARAM_ALLOW = {key: why for why, keys in PARAM_REASONS.items() for key in keys.split()}

TOKEN = re.compile(r'//[^\n]*|/\*|(\b[a-z]\w*)?("""|")|\'(?:\\.[^\']*|[^\'\\\n])\'')
SPLICE = re.compile(r"\$(?:\{|([A-Za-z_]\w*))")


def strip(src):
    """Blank comments and string literals, keeping splices, newlines and offsets."""
    out, i = list(src), 0

    def blank(a, b):
        for k in range(a, b):
            if out[k] != "\n":
                out[k] = " "

    while m := TOKEN.search(src, i):
        i = m.end()
        if not m.group(2):  # comment or char literal
            depth = m.group() == "/*"
            while depth and i < len(src):
                depth += src.startswith("/*", i) - src.startswith("*/", i)
                i += 2 if src.startswith(("/*", "*/"), i) else 1
            blank(m.start(), i)
            continue
        blank(m.start(), i)
        quote, interp = m.group(2), m.group(1) is not None
        while i < len(src) and not src.startswith(quote, i):
            s = SPLICE.match(src, i) if interp else None
            if interp and src.startswith("$$", i):
                blank(i, i + 2)
                i += 2
            elif s and s.group(1):  # $name: keep the name
                blank(i, i + 1)
                i = s.end()
            elif s:  # ${ ... }: keep the expression, matching braces
                depth, j = 1, s.end()
                while depth and j < len(src):
                    depth += {"{": 1, "}": -1}.get(src[j], 0)
                    j += 1
                blank(i, s.end())
                out[s.end():j - 1] = strip(src[s.end():j - 1])
                blank(j - 1, j)
                i = j
            else:
                step = 2 if src[i] == "\\" and quote == '"' else 1
                blank(i, i + step)
                i += step
        blank(i, i + len(quote))
        i += len(quote)
    return "".join(out)


DEF = re.compile(r"^[ \t]*((?:@\w+\s+|\w+(?:\[\w+\])?\s+)*)def\s+([A-Za-z_]\w*)", re.M)
CLOSE = {"(": ")", "[": "]", "{": "}"}


def match_close(text, i):
    """Index just past the bracket group that opens at text[i]."""
    depth = 0
    for j in range(i, len(text)):
        if text[j] in "([{":
            depth += 1
        elif text[j] in ")]}":
            depth -= 1
            if not depth:
                return j + 1
    return len(text)


def split_top(text, a, b, src):
    """(start, end) spans of the top-level comma-separated parts of text[a:b]."""
    spans, depth, s = [], 0, a
    for j in range(a, b):
        c = text[j]
        depth += (c in "([{") - (c in ")]}")
        if c == "," and not depth:
            spans.append((s, j))
            s = j + 1
    if src[s:b].strip():
        spans.append((s, b))
    return spans


LINE_GAP = re.compile(r"[ \t]*\n?[ \t]*")
GAP = re.compile(r"\s*")


def groups(text, i, blocks):
    """(start, end) spans inside the argument or parameter groups that follow
    text[i:], past any type arguments; `blocks` also takes `{ ... }` groups."""
    out, j = [], LINE_GAP.match(text, i).end()
    if text.startswith("[", j):
        j = match_close(text, j)
    while True:
        k = (GAP if out else LINE_GAP).match(text, j).end()
        if k < len(text) and (text[k] == "(" or (blocks and text[k] == "{")):
            j = match_close(text, k)
            out.append((k + 1, j - 1))
        else:
            return out


EQ = re.compile(r"(?<![=<>!:])=(?![=>])")
PARAM = re.compile(r"\s*(?:implicit\s+)?(?:(?:val|var|final|private|override)\s+)*"
                   r"([A-Za-z_]\w*)\s*:")
NAMED = re.compile(r"\s*([A-Za-z_]\w*)\s*=(?![=>])")
NUM = re.compile(r"-?(?:\d+\.?\d*|\.\d+)(?:[eE][-+]?\d+)?[lLdDfF]?")


def norm(v):
    v = " ".join(v.split())
    if NUM.fullmatch(v):
        return float(v.rstrip("lLdDfF"))
    return v


def body_end(text, start):
    """Offset where the def starting at text[start] ends: the first later line
    indented no deeper than the def, past it when it only closes a bracket."""
    indent = len(text[start:]) - len(text[start:].lstrip(" \t"))
    for m in re.finditer(r"\n([ \t]*)(\S)", text[start:]):
        if len(m.group(1)) <= indent:
            j = start + m.end()
            return text.find("\n", j) % (len(text) + 1) if m.group(2) in ")}]" else j - 1
    return len(text)


def params_of(text, src, name_end):
    """[(group, index, param, default text or None)] for the def whose name
    ends at name_end."""
    out = []
    for g, (a, b) in enumerate(groups(text, name_end, blocks=False)):
        for k, (s, e) in enumerate(split_top(text, a, b, src)):
            p = PARAM.match(text, s)
            eq = EQ.search(text, s, e)
            if p:
                out.append((g, k, p.group(1), src[eq.end():e].strip() if eq else None))
    return out


OBJECT = re.compile(r"^(?:private\[\w+\] |final )*(?:case )?(?:object|class|trait)\s+(\w+)", re.M)
QUALIFIER = re.compile(r"\b([A-Z]\w*)\s*\.\s*$")
IDENT = re.compile(r"[A-Za-z_]\w*(?:\s*\.\s*[A-Za-z_]\w*)*")
WORDS = {"true", "false", "null", "None", "Nil"}
INTERCEPT = re.compile(r"\bintercept\s*\[")
# a local name bound by `val x =`, by a generator `x <-`, by a lambda `x =>`
# or by a `case (...) =>` pattern
BIND = re.compile(r"\bva[lr]\s+([A-Za-z_]\w*)\s*(?::[^=\n]*)?=(?![=>])"
                  r"|\b([A-Za-z_]\w*)\s*<-|(?<![\w)])([A-Za-z_]\w*)\s*=>"
                  r"|\bcase\s*(\([^=]*?\))\s*=>")
SEQ = re.compile(r"(?:Seq|List|Array|Set)\s*\(")


def param_check(root, main_files, trees):
    """Defaulted parameters of src/main/scala defs, and those with one value
    in use (see the module docstring for how arguments resolve)."""
    sources = {p: (p.read_text(),) for p in trees}
    for p in sources:
        sources[p] += (strip(sources[p][0]),)
    defs = {}  # file -> [(start, body end, owner, name, params)] in file order
    owned = set()  # (owner, def) of every def in the three trees
    binds = {}  # file -> [(start, name, kind, value start, value end)] in file order
    for p, (src, text) in sources.items():
        owners = [(m.start(), m.group(1)) for m in OBJECT.finditer(text)]
        for m in DEF.finditer(text):
            owner = max(((i, o) for i, o in owners if i < m.start()), default=(0, None))[1]
            owned.add((owner, m.group(2)))
            defs.setdefault(p, []).append((m.start(), body_end(text, m.start()), owner,
                                           m.group(2), params_of(text, src, m.end())))
        for m in BIND.finditer(text):
            if m.group(1):  # val: the rest of its line, or its bracket group
                j = GAP.match(text, m.end()).end()
                end = (match_close(text, j) if text[j:j + 1] in "([{"
                       else text.find("\n", j) % (len(text) + 1))
                binds.setdefault(p, []).append((m.start(), m.group(1), "val", j, end))
            elif m.group(2):  # generator: the collection after `<-`
                j = GAP.match(text, m.end()).end()
                end = re.compile(r"[;)\n]|\bif\b").search(text, j)
                binds.setdefault(p, []).append(
                    (m.start(), m.group(2), "each", j, end.start() if end else len(text)))
            elif m.group(4):  # case pattern: each name it binds, values unknown
                for n in re.findall(r"\b[a-z]\w*", m.group(4)):
                    binds.setdefault(p, []).append((m.start(), n, "each", m.start(), m.start()))
            else:  # lambda: the collection of a `coll.foreach { x =>` call
                c = re.search(r"([\w.]*(?:\([^()]*\))?)\s*\.\s*\w+\s*[({]\s*(?:case\s+)?$",
                              text[max(0, m.start() - 200):m.start()])
                j = m.start() - len(c.group()) + c.start(1) if c else m.start()
                binds.setdefault(p, []).append(
                    (m.start(), m.group(3), "each", j, j + len(c.group(1)) if c else j))
    params = []  # (path, line, owner, def, group, index, param, default)
    for p in main_files:
        text = sources[p][1]
        for start, _, owner, d, ps in defs.get(p, []):
            line = text.count("\n", 0, start) + 1
            params += [(p, line, owner, d, g, k, par, dflt)
                       for g, k, par, dflt in ps if dflt is not None]
    # (owner or None, def, group, param or index) -> [(file, offset, argument)];
    # `Owner.name(...)` counts for that owner's def when it has one, any
    # other call for every def of the name
    args = {}
    names = {d for ds in defs.values() for _, _, _, d, _ in ds}
    call = re.compile(r"\b(" + "|".join(sorted(names)) + r")\b")
    for p, (src, text) in sources.items():
        rejected = []
        for m in INTERCEPT.finditer(text):
            body = groups(text, match_close(text, m.end() - 1), blocks=True)
            rejected += body[:1]
        for m in call.finditer(text):
            before = text[max(0, m.start() - 80):m.start()]
            if re.search(r"\bdef\s+$", before) or any(a <= m.start() < b for a, b in rejected):
                continue
            q = QUALIFIER.search(before)
            owner = q.group(1) if q and (q.group(1), m.group(1)) in owned else None
            for g, (a, b) in enumerate(groups(text, m.end(), blocks=True)):
                for k, (s, e) in enumerate(split_top(text, a, b, src)):
                    n = NAMED.match(text, s)
                    key = (owner, m.group(1), g, n.group(1) if n else k)
                    args.setdefault(key, []).append((p, s, src[n.end() if n else s:e]))

    memo = {}

    def received(owner, d, g, k, par, dflt):
        """The values a def's parameter receives: its default and every
        resolved argument of the calls that reach it."""
        key = (owner, d, g, k)
        if key not in memo:
            memo[key] = set()  # a forwarding cycle adds nothing
            got = {norm(dflt)} if dflt is not None else set()
            for o in (None, owner):
                for x in (par, k):
                    for p, at, arg in args.get((o, d, g, x), []):
                        got |= resolve(p, at, arg)
            memo[key] = got
        return memo[key]

    def resolve(p, at, arg, depth=0):
        """Normalized values an argument can take; empty when unresolved."""
        src, text = sources[p]
        v = " ".join(arg.split())
        if NUM.fullmatch(v) or not IDENT.fullmatch(v) or v in WORDS or depth > 8:
            return {norm(v)}
        name = v.split(".")[-1].strip()
        if "." not in v:  # the nearest binding before the argument
            near = [(start, "param", x) for start, end, owner, d, ps in defs.get(p, [])
                    for x in [(owner, d) + t for t in ps if t[2] == v] if start < at < end]
            near += [(start, kind, (a, b)) for start, n, kind, a, b in binds.get(p, [])
                     if n == v and start < at]
            if near:
                start, kind, x = max(near, key=lambda t: t[0])
                if kind == "param":
                    owner, d, g, k, par, dflt = x
                    return received(owner, d, g, k, par, dflt)
                a, b = x
                if kind == "val":
                    return resolve(p, a, src[a:b], depth + 1)
                seq = SEQ.match(text, a)
                if seq and match_close(text, seq.end() - 1) == b:
                    return set().union(*(resolve(p, s, src[s:e], depth + 1)
                                         for s, e in split_top(text, seq.end(), b - 1, src)))
                # a range, a computed collection or a case pattern
                return {" ".join(src[a:b].split()) or f"<{v} at {start}>"}
        # a val of that name elsewhere in the file, else the one val of that name
        for where in ([p], list(sources)):
            vals = [(q, a, b) for q in where for _, n, kind, a, b in binds.get(q, [])
                    if n == name and kind == "val"]
            if vals:
                got = set().union(*(resolve(q, a, sources[q][0][a:b], depth + 1)
                                    for q, a, b in vals))
                if where == [p] or len(got) == 1:
                    return got
        return set()

    hits, by_file = [], {}
    for p, line, owner, d, g, k, par, dflt in params:
        calls = [a for o in (None, owner) for x in (par, k) for a in args.get((o, d, g, x), [])]
        got = [resolve(*a) for a in calls]
        seen = set().union(*got)
        one = not (seen - {norm(dflt)})
        stem = p.relative_to(root / "src/main/scala")
        tally = by_file.setdefault(str(stem), [0, 0])
        tally[0] += 1
        if one:
            tally[1] += 1
            lost = sum(not x for x in got)
            hits.append((p, line, d, par, dflt, "unset" if not calls else "default only"
                         + (f", {lost} argument(s) unresolved" if lost else "")))
    return params, hits, by_file


def main(root):
    root = pathlib.Path(root)
    main_files = sorted((root / "src/main/scala").rglob("*.scala"))
    bench_files = sorted((root / "lakebench/src").rglob("*.scala"))
    test_files = sorted((root / "src/test/scala").rglob("*.scala"))
    uses, defs = {}, []
    for p in main_files + bench_files:
        text = strip(p.read_text())
        for name in re.findall(r"\b[A-Za-z_]\w*\b", text):
            uses[name] = uses.get(name, 0) + 1
        for m in DEF.finditer(text):
            uses[m.group(2)] -= 1
            if p in main_files and not re.search(r"\b(private|protected|override)\b", m.group(1)):
                defs.append((p, text.count("\n", 0, m.start()) + 1, m.group(2)))
    spec_only = [d for d in defs if uses[d[2]] == 0 and d[2] not in ("main", "apply")]
    new = 0
    for p, line, name in spec_only:
        why = ALLOW.get(f"{p.stem}.{name}")
        new += why is None
        print(f"{p.relative_to(root)}:{line}: {name}" + (f"  [allowed: {why}]" if why else ""))
    print(f"{len(spec_only)} spec-only defs, {new} not allowlisted")

    params, hits, by_file = param_check(root, main_files, main_files + bench_files + test_files)
    new_params = 0
    for p, line, d, par, dflt, how in hits:
        why = PARAM_ALLOW.get(f"{p.stem}.{d}.{par}")
        new_params += why is None
        print(f"{p.relative_to(root)}:{line}: {d}({par} = {dflt}) {how}"
              + (f"  [allowed: {why}]" if why else ""))
    if "--per-file" in sys.argv:
        for f, (n, one) in sorted(by_file.items()):
            print(f"  {f}: {n} defaulted, {one} one-value")
    print(f"{len(params)} defaulted parameters, {len(hits)} with one value in use, "
          f"{new_params} not allowlisted")
    return 1 if new or new_params else 0


if __name__ == "__main__":
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sys.exit(main(args[0] if args else "."))
