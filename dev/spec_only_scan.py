#!/usr/bin/env python3
"""List every def in src/main/scala that nothing in src/main/scala or
perfbench/src calls: a public or package-private one is reachable only from
specs, a private one is dead. Comments and plain string text are stripped
first; `${...}` and `$name` inside s/f/raw interpolators stay, because they
are calls. Matching is by name, so an overload shares its callers.

Exits 1 on any name that is not in KEEP below, each kept with its reason.

    python3 dev/spec_only_scan.py
"""
import pathlib, re, sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
KEEP = {
    "rollback": "Catalog: the crash-state spec (ROADMAP item 6) needs it",
    "history": "Catalog: the crash-state spec (ROADMAP item 6) needs it",
    "dropTag": "Catalog: the crash-state spec (ROADMAP item 6) needs it",
    "learnDistributed": "BpeVocab: BpePropertySpec's reference learner",
    "inertia": "KMeans: KMeansSpec measures fitParallel with it",
}
ENTRY = {"main", "apply", "unapply"}  # entry points and sugar-called


def strip(src):
    out, i, n = [], 0, len(src)
    while i < n:
        if src.startswith("//", i):
            i = src.find("\n", i) if "\n" in src[i:] else n
        elif src.startswith("/*", i):
            depth, i = 1, i + 2
            while i < n and depth:
                depth += src.startswith("/*", i) - src.startswith("*/", i)
                i += 2 if src.startswith(("/*", "*/"), i) else 1
        elif re.match(r"'(\\u[0-9a-fA-F]{4}|\\.|[^\\'])'", src[i:i + 8]):
            i = src.index("'", i + 2) + 1
        elif src[i] == '"':
            q = '"""' if src.startswith('"""', i) else '"'
            interp = i > 0 and (src[i - 1].isalnum() or src[i - 1] == "_")
            i += len(q)
            while i < n and not src.startswith(q, i):
                if q == '"' and src[i] == "\\":
                    i += 2
                elif interp and src.startswith("${", i):
                    depth, j = 1, i + 2
                    while depth:
                        depth += (src[j] == "{") - (src[j] == "}")
                        j += 1
                    out.append(" " + strip(src[i + 2:j - 1]) + " ")
                    i = j
                elif interp and re.match(r"\$[A-Za-z_]", src[i:i + 2]):
                    m = re.match(r"\$([A-Za-z_]\w*)", src[i:])
                    out.append(" " + m.group(1) + " ")
                    i += m.end()
                else:
                    i += 1
            i += len(q)
        else:
            out.append(src[i])
            i += 1
    return "".join(out)


main = [strip(p.read_text()) for p in sorted((ROOT / "src/main/scala").rglob("*.scala"))]
bench = [strip(p.read_text()) for p in sorted((ROOT / "perfbench/src").rglob("*.scala"))]
text = "\n".join(main + bench)
defn = re.compile(r"^[ \t]*((?:[\w\[\]]+[ \t]+)*)def[ \t]+([A-Za-z_]\w*)", re.M)
names = {m.group(2) for t in main for m in defn.finditer(t)
         if "override" not in m.group(1).split() and m.group(2) not in ENTRY}
uses = {}
for w in re.findall(r"[A-Za-z_]\w*", text):
    uses[w] = uses.get(w, 0) + 1
ndefs = {}
for m in defn.finditer(text):
    ndefs[m.group(2)] = ndefs.get(m.group(2), 0) + 1
uncalled = sorted(n for n in names if uses.get(n, 0) <= ndefs.get(n, 0))
bad = [n for n in uncalled if n not in KEEP]
for n in uncalled:
    print(f"{n}: {'kept, ' + KEEP[n] if n in KEEP else 'NO CALLER in main code'}")
for n in sorted(set(KEEP) - set(uncalled)):
    print(f"{n}: in the keep-list but has a caller now; drop it from KEEP")
print(f"{len(names)} defs scanned, {len(uncalled)} uncalled, {len(bad)} not kept")
sys.exit(1 if bad or set(KEEP) - set(uncalled) else 0)
