#!/usr/bin/env python3
"""List every `def` parameter with a default value under src/main.

Usage: python3 tools/count_options.py [src_dir]

Prints one line per defaulted parameter, `file def.param = value`, then
`total N`. By-name parameters (`p: => T`), case-class fields and the frozen
entry points Bench, Verify and ScalingBench are not counted.
"""
import pathlib
import re
import sys

FROZEN = {"Bench.scala", "Verify.scala", "ScalingBench.scala"}
DEF = re.compile(r"\bdef\s+([A-Za-z_][\w]*|`[^`]+`)")


def strip_comments_and_strings(src):
    """Blank out comments and string literals, keeping offsets."""
    out = list(src)
    i, n = 0, len(src)
    while i < n:
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
        elif src.startswith("/*", i):
            j = src.find("*/", i + 2)
            j = n if j < 0 else j + 2
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':
                j += 1
        elif src[i] == '"':
            j = i + 1
            while j < n and src[j] != '"' and src[j] != "\n":
                j += 2 if src[j] == "\\" else 1
            j = min(j + 1, n)
        elif src[i] == "'" and i + 2 < n and (src[i + 2] == "'" or src[i + 1] == "\\"):
            j = src.find("'", i + 2) + 1
        else:
            i += 1
            continue
        for k in range(i, j):
            if out[k] != "\n":
                out[k] = " "
        i = j
    return "".join(out)


def balanced(s, i, open_c, close_c):
    """Index just past the bracket that closes s[i] == open_c."""
    depth = 0
    for j in range(i, len(s)):
        if s[j] == open_c:
            depth += 1
        elif s[j] == close_c:
            depth -= 1
            if depth == 0:
                return j + 1
    return len(s)


def split_top(s):
    """Split on commas outside (), [] and {}; yields (offset, part)."""
    depth, start = 0, 0
    for j, c in enumerate(s):
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == "," and depth == 0:
            yield start, s[start:j]
            start = j + 1
    yield start, s[start:]


def top_level_eq(p):
    """Index of the `=` that starts a default, outside brackets and `=>`."""
    depth = 0
    for j, c in enumerate(p):
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == "=" and depth == 0:
            nxt = p[j + 1] if j + 1 < len(p) else ""
            prv = p[j - 1] if j > 0 else ""
            if nxt not in "=>" and prv not in "=!<>":
                return j
    return -1


def options(path):
    raw = path.read_text()
    src = strip_comments_and_strings(raw)
    for m in DEF.finditer(src):
        i = m.end()
        while i < len(src) and src[i].isspace():
            i += 1
        if i < len(src) and src[i] == "[":
            i = balanced(src, i, "[", "]")
        while True:
            while i < len(src) and src[i].isspace():
                i += 1
            if i >= len(src) or src[i] != "(":
                break
            end = balanced(src, i, "(", ")")
            for off, p in split_top(src[i + 1:end - 1]):
                eq = top_level_eq(p)
                if eq < 0 or ":" not in p[:eq]:
                    continue
                name, typ = p[:eq].split(":", 1)
                if typ.strip().startswith("=>"):
                    continue
                name = name.split()[-1]
                start = i + 1 + off + eq + 1
                value = " ".join(raw[start:i + 1 + off + len(p)].split())
                yield m.group(1), name, value
            i = end


def main():
    root = pathlib.Path(sys.argv[1] if len(sys.argv) > 1 else "src/main")
    total = 0
    for path in sorted(root.rglob("*.scala")):
        if path.name in FROZEN:
            continue
        for fn, name, value in options(path):
            print(f"{path} {fn}.{name} = {value}")
            total += 1
    print(f"total {total}")


if __name__ == "__main__":
    main()
