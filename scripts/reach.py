#!/usr/bin/env python3
"""Reachability census of the src/main surface.

Lists every member of src/main that nothing outside src/test reaches: a
top-level object, or a def/val/object declared directly in a top-level
object, class or trait, whose name appears nowhere in the roots outside its
own definition. The roots are the src/main code, perfbench/src and
scripts/. Comments are not references; string literals are (a main's class
name in a launch script, an interpolated `${name}`). The census is
transitive: a reference from inside a flagged member that is not on ALLOW
does not count, so a helper only a dead fork calls is flagged with it.
Allowed members are kept on purpose, so what they call counts as reached.

A member of a top-level object counts as referenced by `Object.name`
anywhere in the roots, or by a bare `name` in its own file or in a file
that imports it (`import ...Object._` or a selector naming it). A member of
a class, a trait, or an object that extends one may be called through any
receiver, so any `name` outside its definition counts for it. Not counted:
members marked override or implicit, apply/unapply, and `main`, whose
object is a root. The census is by name, so a reference to a same-named
member elsewhere hides a dead one; it never reports a live one as dead.

Each flagged member is printed with its file and line, marked `spec-only`
(named in src/test) or `unreferenced`. Exit status: 0 when every flagged
member is on ALLOW below; 1 when one is not, or when an ALLOW entry no
longer names a flagged member (the list stays exact).

Usage, from the repository root: python3 scripts/reach.py
"""
import os
import re
import sys
from collections import defaultdict

# Members kept without a caller in the roots, each with the reason.
ALLOW = {
    "F5Parse.kvSyslogRegex": "regex reference implementation of the KV scan, the differential's baseline",
    "F5Parse.kvCefRegex": "regex reference implementation of the CEF KV scan, the differential's baseline",
    "F5Parse.pairedLabels": "map-based reference for the typed label pairing in KvSlotsExtract",
    "F5Parse.kvCef": "Column twin of the kv_extract SQL function in CEF mode",
    "DedupOps.clustersFromEdges": "reference implementation that the star-forest clustering is tested against",
    "StreamingPipeline.sinkCounts": "the W1 watermarked per-sink counts (SURVEY W1)",
    "StreamingPipeline.exactSinkCounts": "the reader of StreamMain's exact conv-pair state",
    "StreamingPipeline.streamRecords": "the stream parse without `_stop` rows, for sources other than files",
    "Intermediates.registered": "spec hook: counts live persisted intermediates",
    "Lineage.route": "the W4 resume contract (with readManifest, which it calls), to be folded into Router",
    "SparkEntry.entry": "smoke-test entry of the SparkEntry contract, invoked by name from outside this build",
}

ROOTS = ["src/main", "perfbench/src", "scripts"]
TESTS = ["src/test"]
SKIP = {"apply", "unapply", "main"}
SELF = "scripts/reach.py"  # names every allowed member; not a reference

CHAR_LIT = re.compile(r"'(?:\\u[0-9a-fA-F]{4}|\\.|[^'\\\n])'")
DEF = re.compile(r"^(\s*)((?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|lazy\s+|"
                 r"override\s+|implicit\s+|case\s+|sealed\s+|abstract\s+)*)"
                 r"(def|val|var|object|class|trait)\s+([A-Za-z_]\w*)")
IDENT = re.compile(r"[A-Za-z_]\w*")


def files(dirs, exts):
    for d in dirs:
        for root, _, names in os.walk(d):
            for n in sorted(names):
                if n.endswith(exts):
                    yield os.path.join(root, n)


def strip_scala(src):
    """Blank out comments, keeping line structure. Returns the code with
    its string literals, and the code with them blanked too."""
    code, bare = [], []
    i, n, depth = 0, len(src), 0

    def emit(s, blank_in_bare):
        code.append(s)
        bare.append(re.sub(r"[^\n]", " ", s) if blank_in_bare else s)

    def blank(s):
        emit(re.sub(r"[^\n]", " ", s), False)

    while i < n:
        if depth:
            step = 2 if src.startswith(("/*", "*/"), i) else 1
            depth += {"/*": 1, "*/": -1}.get(src[i:i + 2], 0) if step == 2 else 0
            blank(src[i:i + step]); i += step
        elif src.startswith("/*", i):
            depth = 1; blank("/*"); i += 2
        elif src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            blank(src[i:j]); i = j
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':
                j += 1
            emit(src[i:j], True); i = j
        elif src[i] == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            j = min(j + 1, n)
            emit(src[i:j], True); i = j
        elif src[i] == "'" and CHAR_LIT.match(src, i):
            m = CHAR_LIT.match(src, i)
            emit(m.group(0), True); i = m.end()
        else:
            emit(src[i], False); i += 1
    return "".join(code), "".join(bare)


def strip_hash(src):
    """Blank `#` comments of a shell or python file."""
    return re.sub(r"(^|\s)#[^\n]*", lambda m: m.group(1), src)


def body_end(lines, start, indent):
    """Index one past the last line of the definition opened on `start`."""
    for i in range(start + 1, len(lines)):
        ln = lines[i]
        if ln.strip():
            ind = len(ln) - len(ln.lstrip())
            if ind < indent or (ind == indent and ln.lstrip()[0] not in "})"):
                return i
            if ind == indent:
                return i + 1
    return len(lines)


def definitions(bare):
    """Top-level objects and the direct members of top-level types, as
    (name, owner or None, kind, line, body span, matched by bare name)."""
    lines = bare.split("\n")
    out, owner, mains = [], None, set()
    for i, ln in enumerate(lines):
        m = DEF.match(ln)
        if not m:
            continue
        indent, mods, kind, name = len(m.group(1)), m.group(2), m.group(3), m.group(4)
        if indent == 0:
            if kind in ("class", "trait", "object"):
                end = body_end(lines, i, 0)
                by_name = kind != "object" or re.search(r"\bextends\b", ln) is not None
                owner = (name, by_name, end)
                if kind == "object":
                    out.append((name, None, kind, i, (i, end), True))
            continue
        if owner is None or i >= owner[2] or indent != 2 or kind in ("class", "trait"):
            continue
        if name == "main":
            mains.add(owner[0])
        if name in SKIP or "override" in mods or "implicit" in mods:
            continue
        out.append((name, owner[0], kind, i, (i, body_end(lines, i, 2)), owner[1]))
    # an object with a main is a root
    return [d for d in out if not (d[1] is None and d[0] in mains)]


def occurrences(text):
    """name -> [(line, qualifier)]: qualifier is the identifier before a
    `.` in front of the name, "" after a `.` with no identifier, None when
    the name stands bare."""
    occ = defaultdict(list)
    line, last = 0, 0
    for m in IDENT.finditer(text):
        line += text.count("\n", last, m.start())
        last = m.start()
        j = m.start() - 1
        while j >= 0 and text[j].isspace():
            j -= 1
        qual = None
        if j >= 0 and text[j] == ".":
            k = j - 1
            while k >= 0 and text[k].isspace():
                k -= 1
            e = k + 1
            while k >= 0 and (text[k].isalnum() or text[k] == "_"):
                k -= 1
            qual = text[k + 1:e]
        occ[m.group(0)].append((line, qual))
    return occ


def imports_of(code, obj):
    """Names a file imports from `obj`; `*` for a wildcard import."""
    names = set()
    for m in re.finditer(r"\bimport\s+[\w.]*\b%s\.(_|\{[^}]*\}|\w+)" % re.escape(obj), code):
        for part in m.group(1).strip("{}").split(","):
            part = part.split("=>")[0].strip()
            names.add("*" if part == "_" else part)
    return names


def main():
    scala = {p: strip_scala(open(p, encoding="utf-8").read())
             for p in files(ROOTS + TESTS, (".scala",))}
    roots = {p: c for p, (c, _) in scala.items() if not p.startswith("src/test")}
    roots.update((p, strip_hash(open(p, encoding="utf-8").read()))
                 for p in files(["scripts"], (".sh", ".py")) if p != SELF)
    occ = {p: occurrences(t) for p, t in roots.items()}
    test_names = set()
    for p, (c, _) in scala.items():
        if p.startswith("src/test"):
            test_names.update(IDENT.findall(c))
    members = [(path,) + d for path in sorted(scala) if path.startswith("src/main")
               for d in definitions(scala[path][1])]
    imports = {}

    def reached(path, name, owner, span, by_name, dead):
        for p, o in occ.items():
            excluded = dead.get(p, []) + ([span] if p == path else [])
            local = False
            if owner is not None and not by_name:
                if (p, owner) not in imports:
                    imports[(p, owner)] = imports_of(roots[p], owner)
                imp = imports[(p, owner)]
                local = p == path or "*" in imp or name in imp
            for line, qual in o.get(name, ()):
                if any(lo <= line < hi for lo, hi in excluded):
                    continue
                if owner is None or by_name or qual == owner or (local and qual is None):
                    return True
        return False

    # fixpoint: the bodies of flagged, not allowed members stop counting
    flagged, dead = {}, {}
    while True:
        now = {}
        for path, name, owner, kind, line, span, by_name in members:
            if not reached(path, name, owner, span, by_name, dead):
                key = name if owner is None else "%s.%s" % (owner, name)
                now[key] = (path, line, kind, span)
        if now.keys() == flagged.keys():
            break
        flagged, dead = now, defaultdict(list)
        for key, (path, _, _, span) in now.items():
            if key not in ALLOW:
                dead[path].append(span)

    bad = 0
    for key, (path, line, kind, _) in sorted(flagged.items(), key=lambda f: f[1][:2]):
        how = "spec-only" if key.split(".")[-1] in test_names else "unreferenced"
        bad += key not in ALLOW
        mark = "allowed: " + ALLOW[key] if key in ALLOW else "NOT ALLOWED"
        print("%s:%d: %s %s (%s) -- %s" % (path, line + 1, kind, key, how, mark))
    stale = sorted(set(ALLOW) - set(flagged))
    for key in stale:
        print("ALLOW entry %s names no flagged member; remove it" % key)
    print("reach: %d flagged, %d allowed, %d not allowed, %d stale allow entries"
          % (len(flagged), len(flagged) - bad, bad, len(stale)))
    return 1 if bad or stale else 0


if __name__ == "__main__":
    os.chdir(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.exit(main())
