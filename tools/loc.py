#!/usr/bin/env python3
"""Count non-blank, non-comment lines of Scala source.

Block comments (nested ones included) and line comments are stripped;
string literals (plain, interpolated and triple-quoted) and char literals
are kept as code, so a `//` or `/*` inside one does not start a comment.
A line counts if anything but whitespace is left on it.

Usage: python3 tools/loc.py [root]   (default: the directory above tools/)
Prints the totals for <root>/src/main/scala and <root>/src/test/scala.
"""
import os
import sys


def strip_comments(src):
    """`src` with every comment replaced by spaces (newlines kept)."""
    out = []
    i, n = 0, len(src)
    depth = 0  # block-comment nesting
    while i < n:
        c = src[i]
        two = src[i:i + 2]
        if depth:
            if two == "/*":
                depth += 1
                i += 2
            elif two == "*/":
                depth -= 1
                i += 2
            else:
                out.append("\n" if c == "\n" else " ")
                i += 1
            continue
        if two == "/*":
            depth = 1
            i += 2
        elif two == "//":
            while i < n and src[i] != "\n":
                i += 1
        elif src.startswith('"""', i):
            end = src.find('"""', i + 3)
            end = n if end < 0 else end + 3
            while end < n and src[end] == '"':  # """a"""" ends at the last quote
                end += 1
            out.append(src[i:end])
            i = end
        elif c == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1])
            i = j + 1
        elif c == "'" and src[i + 1:i + 2] == "\\":
            end = src.find("'", i + 3)
            end = n if end < 0 else end + 1
            out.append(src[i:end])
            i = end
        elif c == "'" and src[i + 2:i + 3] == "'":
            out.append(src[i:i + 3])
            i += 3
        else:
            out.append(c)
            i += 1
    return "".join(out)


def count_lines(path):
    with open(path, encoding="utf-8") as f:
        return sum(1 for line in strip_comments(f.read()).split("\n") if line.strip())


def count_tree(root):
    total = 0
    for d, _, files in os.walk(root):
        total += sum(count_lines(os.path.join(d, f)) for f in files if f.endswith(".scala"))
    return total


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(os.path.dirname(__file__), "..")
    for sub in ("src/main/scala", "src/test/scala"):
        print(f"{sub}: {count_tree(os.path.join(root, sub))}")


if __name__ == "__main__":
    main()
