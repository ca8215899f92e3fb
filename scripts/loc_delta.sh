#!/usr/bin/env bash
# Net change in non-blank, non-comment lines under src/main between a git
# revision and the working tree, per file and in total.
#
#   scripts/loc_delta.sh [base]        # base defaults to HEAD
#
# Output: one line per changed file, "<base> <now> <delta> <path>", then a
# TOTAL line. Comments are Scala/Java `//` and (nested) `/* */` blocks,
# scaladoc included; text inside string literals is code. Files that are
# not .scala/.java count their non-blank lines. Untracked files under
# src/main count as new; deleted ones count as removed.
set -euo pipefail
base="${1:-HEAD}"
cd "$(git rev-parse --show-toplevel)"
git rev-parse --verify --quiet "$base^{commit}" >/dev/null ||
  { echo "unknown revision: $base" >&2; exit 2; }

python3 - "$base" <<'EOF'
import subprocess, sys

base = sys.argv[1]

def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True).stdout

def code_lines(text, c_like):
    """Count lines holding at least one non-blank character outside comments."""
    if not c_like:
        return sum(1 for l in text.splitlines() if l.strip())
    n, i, depth, has_code = 0, 0, 0, False
    # frames: ["code", open braces] or ["str", '"' or '"""', interpolated]
    stack = [["code", 0]]
    while i < len(text):
        c, top = text[i], stack[-1]
        if c == "\n":
            n += has_code
            has_code = False
            i += 1
            continue
        if depth:                                   # inside /* */ (nests in Scala)
            if text.startswith("*/", i):
                depth -= 1; i += 2
            elif text.startswith("/*", i):
                depth += 1; i += 2
            else:
                i += 1
            continue
        if not c.isspace() and not (top[0] == "code" and text.startswith(("//", "/*"), i)):
            has_code = True
        if top[0] == "str":
            quote, interp = top[1], top[2]
            if interp and text.startswith("${", i):
                stack.append(["code", 0]); i += 2
            elif interp and text.startswith("$$", i):
                i += 2
            elif text.startswith(quote, i) and not (quote == '"""' and text.startswith('""""', i)):
                stack.pop(); i += len(quote)
            elif quote == '"' and c == "\\":
                i += 2
            else:
                i += 1
        elif text.startswith("//", i):
            while i < len(text) and text[i] != "\n":
                i += 1
        elif text.startswith("/*", i):
            depth = 1; i += 2
        elif c == '"':
            quote = '"""' if text.startswith('"""', i) else '"'
            interp = i > 0 and (text[i - 1].isalnum() or text[i - 1] == "_")
            stack.append(["str", quote, interp]); i += len(quote)
        elif c == "'" and text.find("'", i + 1, i + 8) > i:   # char literal
            i = text.find("'", i + 3 if text[i + 1] == "\\" else i + 1, i + 8) + 1
        elif c == "{":
            top[1] += 1; i += 1
        elif c == "}" and top[1] == 0 and len(stack) > 1:  # closes a ${...}
            stack.pop(); i += 1
        else:
            if c == "}":
                top[1] -= 1
            i += 1
    return n + has_code

def count(path, blob):
    return code_lines(blob.decode("utf-8", "replace"), path.endswith((".scala", ".java")))

old = set(git("ls-tree", "-r", "--name-only", base, "--", "src/main").decode().split())
new = set(git("ls-files", "--cached", "--others", "--exclude-standard",
              "--", "src/main").decode().split())
total = 0
for path in sorted(old | new):
    a = count(path, git("show", f"{base}:{path}")) if path in old else 0
    try:
        b = count(path, open(path, "rb").read()) if path in new else 0
    except FileNotFoundError:                        # deleted but still in the index
        b = 0
    if a != b:
        print(f"{a:6d} {b:6d} {b - a:+6d} {path}")
        total += b - a
print(f"TOTAL {total:+d} (non-blank, non-comment lines under src/main, {base} -> working tree)")
EOF
