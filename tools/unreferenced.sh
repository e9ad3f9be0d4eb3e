#!/usr/bin/env bash
# Lists the definitions in src/main (def, val, var, object, class, trait,
# type) whose name occurs nowhere else in the code of src/ and
# perfbench/src once comments are stripped: code that nothing calls.
# Names are matched as whole words, so a name shared by two definitions
# counts as referenced when either is used.
#
# Skipped: overrides, which Spark or the JDK calls (bufferEncoder,
# outputEncoder, initialValue, onOtherEvent); mains and the objects that
# hold them; Sketches.repairCompactionIfTorn, an operator's
# fault-recovery entry.
#
# Usage: tools/unreferenced.sh     (exit 1 when anything is listed)
set -euo pipefail
cd "$(dirname "$0")/.."
python3 - <<'EOF'
import pathlib, re, sys

SKIP = {"main", "repairCompactionIfTorn"}

def strip(src, strings=True):
    """Code with comments removed; string literals kept, or blanked."""
    lit = (lambda t: t) if strings else (lambda t: '""' + "\n" * t.count("\n"))
    out, i, n = [], 0, len(src)
    while i < n:
        if src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':
                j += 1
            out.append(lit(src[i:j])); i = j
        elif src[i] == '"':
            j = i + 1
            while j < n and src[j] != '"' and src[j] != "\n":
                j += 2 if src[j] == "\\" else 1
            out.append(lit(src[i:j + 1])); i = j + 1
        elif src.startswith("'\"'", i) or src.startswith("'\\''", i):
            k = 3 if src[i + 1] == '"' else 4
            out.append(src[i:i + k]); i += k
        elif src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j): depth += 1; j += 2
                elif src.startswith("*/", j): depth -= 1; j += 2
                else: j += 1
            out.append(" " + "\n" * src.count("\n", i, j)); i = j
        else:
            out.append(src[i]); i += 1
    return "".join(out)

files = sorted(p for root in ("src", "perfbench/src")
               for p in pathlib.Path(root).rglob("*.scala"))
code = {p: strip(p.read_text()) for p in files}
# objects that hold a main are entry points, named only on command lines
entries = {m for text in code.values() if re.search(r"\bdef main\(", text)
           for m in re.findall(r"\bobject\s+(\w+)", text)}
words = {}
for text in code.values():
    for w in re.findall(r"[A-Za-z_][A-Za-z0-9_]*", text):
        words[w] = words.get(w, 0) + 1

DEF = re.compile(r"(?<![\w.])(override\s+)?(?:(?:private|protected)(?:\[\w+\])?\s+)?"
                 r"(?:final\s+|implicit\s+|lazy\s+|case\s+)*"
                 r"(def|val|var|object|class|trait|type)\s+([A-Za-z_][A-Za-z0-9_]*)")
defs, sites = [], {}
for p in files:
    if not str(p).startswith("src/main/"):
        continue
    text = strip(p.read_text(), strings=False)
    for m in DEF.finditer(text):
        name = m.group(3)
        sites[name] = sites.get(name, 0) + 1
        if not m.group(1) and name not in SKIP | entries:
            line = text.count("\n", 0, m.start()) + 1
            defs.append((str(p), line, m.group(2), name))

listed = [d for d in defs if words.get(d[3], 0) <= sites[d[3]]]
for path, line, kind, name in listed:
    print(f"{path}:{line}: {kind} {name}")
sys.exit(1 if listed else 0)
EOF
