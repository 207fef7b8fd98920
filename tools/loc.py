#!/usr/bin/env python3
"""Code-line count of the library: the non-blank lines of
src/main/**/*.scala, not counting `//` comment lines or lines inside
`/* */` blocks (scaladoc included). A line with code before or after a
comment counts; string literals (plain and triple-quoted, such as the
oracle SQL) are code, so a `//` or `/*` inside one starts no comment.

Usage: python3 tools/loc.py [--files] [repo_root]
Prints `loc src/main <total>` as its last line; --files first prints
one `<count> <path>` line per file.
"""
import pathlib
import sys


def code_lines(text):
    """Number of lines of `text` that carry code outside comments."""
    count = 0
    depth = 0          # nesting depth of /* */ (Scala block comments nest)
    string = None      # None, '"' or '"""'
    for line in text.splitlines():
        has_code = False
        i, n = 0, len(line)
        while i < n:
            c = line[i]
            if depth:
                if line.startswith("/*", i):
                    depth += 1
                    i += 2
                elif line.startswith("*/", i):
                    depth -= 1
                    i += 2
                else:
                    i += 1
            elif string:
                if not c.isspace():
                    has_code = True
                if string == '"' and c == "\\":
                    i += 2
                elif line.startswith(string, i):
                    i += len(string)
                    string = None
                else:
                    i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth = 1
                i += 2
            else:
                if not c.isspace():
                    has_code = True
                if line.startswith('"""', i):
                    string = '"""'
                    i += 3
                elif c == '"':
                    string = '"'
                    i += 1
                elif c == "'" and i + 2 < n and line[i + 2] == "'":
                    i += 3                      # char literal 'x'
                elif c == "'" and line.startswith("\\", i + 1):
                    close = line.find("'", i + 3)
                    i = close + 1 if close > 0 else i + 1  # '\n', '\u0000'
                else:
                    i += 1
        if string == '"':
            string = None   # a plain string literal never spans lines
        if has_code:
            count += 1
    return count


def main(argv):
    files_too = "--files" in argv
    args = [a for a in argv if a != "--files"]
    root = pathlib.Path(args[0]) if args else pathlib.Path(__file__).resolve().parent.parent
    total = 0
    for path in sorted((root / "src" / "main").rglob("*.scala")):
        n = code_lines(path.read_text(encoding="utf-8"))
        total += n
        if files_too:
            print(n, path.relative_to(root))
    print("loc src/main", total)


if __name__ == "__main__":
    main(sys.argv[1:])
