#!/usr/bin/env python3
"""Count code lines in Scala sources: non-blank lines that hold something
outside `//` line comments and `/* */` block comments (scaladoc included).

    python3 tools/codelines.py                       # every file under src/main, then the total
    python3 tools/codelines.py src/main/scala/graft/operators/Dedup.scala ...

A directory argument counts every `.scala` file below it. String and
character literals are skipped over, so `"s3://bucket"` is code, not a
comment; a triple-quoted string is one literal however many lines it
spans, and each of its non-blank lines counts.
"""
import os
import sys


def code_lines(text):
    """Number of non-blank lines of `text` with at least one character
    outside comments."""
    counted = 0
    has_code = False
    depth = 0          # nesting depth of /* */ comments (Scala nests them)
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c == "\n":
            counted += has_code
            has_code = False
            i += 1
        elif depth > 0:
            if text.startswith("/*", i):
                depth += 1
                i += 2
            elif text.startswith("*/", i):
                depth -= 1
                i += 2
            else:
                i += 1
        elif text.startswith("//", i):
            while i < n and text[i] != "\n":
                i += 1
        elif text.startswith("/*", i):
            depth = 1
            i += 2
        elif text.startswith('"""', i):
            has_code = True
            end = text.find('"""', i + 3)
            end = n if end < 0 else end + 3
            while end < n and text[end] == '"':   # """...""""" closes last
                end += 1
            for ch in text[i:end]:
                if ch == "\n":
                    counted += has_code
                    has_code = False
                elif not ch.isspace():
                    has_code = True
            i = end
        elif c == '"':
            has_code = True
            i += 1
            while i < n and text[i] not in '"\n':
                i += 2 if text[i] == "\\" else 1
            i += 1
        elif c == "'" and i + 2 < n and (text[i + 2] == "'" or text[i + 1] == "\\"):
            has_code = True          # char literal; a bare ' is a symbol
            end = text.find("'", i + 2 if text[i + 1] == "\\" else i + 1)
            i = n if end < 0 else end + 1
        else:
            if not c.isspace():
                has_code = True
            i += 1
    return counted + has_code


def scala_files(path):
    if os.path.isfile(path):
        return [path]
    found = []
    for root, dirs, files in os.walk(path):
        dirs.sort()
        found += [os.path.join(root, f) for f in sorted(files) if f.endswith(".scala")]
    return found


def main(args):
    paths = args or ["src/main"]
    total = 0
    for p in paths:
        for f in scala_files(p):
            with open(f, encoding="utf-8") as fh:
                c = code_lines(fh.read())
            total += c
            print(f"{c:7d}  {f}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
