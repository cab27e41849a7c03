#!/usr/bin/env python3
"""Count the lines of the Scala sources under a directory.

Prints one JSON line: `files`, `total` (every line) and `code` (non-comment
code lines: a line counts when something other than whitespace and comment
text is on it, so blank lines, `//` lines and lines inside `/* ... */`,
scaladoc included, do not). String and character literals are code, so a
`//` or `/*` inside one opens no comment; block comments nest, as in Scala.

    python3 scripts/loc.py                  # src/main/scala
    python3 scripts/loc.py src/test/scala   # any other source root
"""
import json
import os
import sys


def code_lines(text):
    """Number of lines of `text` that hold code outside comments."""
    lines = set()
    line, i, n = 0, 0, len(text)
    # mode stack: ["code", open braces] or ["str", quote, interpolated];
    # an interpolated string's `${` pushes a code mode its `}` pops
    stack = [["code", 0]]
    while i < n:
        c, top = text[i], stack[-1]
        if top[0] == "str":
            lines.add(line)
            quote, interp = top[1], top[2]
            if c == "\n":
                line += 1
                i += 1
            elif text.startswith(quote, i):
                i += len(quote)
                while quote == '"""' and i < n and text[i] == '"':
                    i += 1  # """a"""" ends on its last quote
                stack.pop()
            elif interp and text.startswith("$$", i):
                i += 2
            elif interp and text.startswith("${", i):
                stack.append(["code", 0])
                i += 2
            elif c == "\\" and quote == '"':
                i += 2
            else:
                i += 1
        elif c == "\n":
            line += 1
            i += 1
        elif text.startswith("//", i):
            while i < n and text[i] != "\n":
                i += 1
        elif text.startswith("/*", i):
            depth, i = 1, i + 2
            while i < n and depth:
                if text.startswith("/*", i):
                    depth, i = depth + 1, i + 2
                elif text.startswith("*/", i):
                    depth, i = depth - 1, i + 2
                else:
                    line += text[i] == "\n"
                    i += 1
        elif c == '"':
            lines.add(line)
            quote = '"""' if text.startswith('"""', i) else '"'
            interp = i > 0 and (text[i - 1].isalnum() or text[i - 1] == "_")
            stack.append(["str", quote, interp])
            i += len(quote)
        elif c == "'" and i + 2 < n and (text[i + 2] == "'" or text[i + 1] == "\\"):
            lines.add(line)  # a character literal
            i += 1
            while i < n and text[i] != "'" and text[i] != "\n":
                i += 2 if text[i] == "\\" else 1
            i += 1
        else:
            if not c.isspace():
                lines.add(line)
            if c == "{":
                top[1] += 1
            elif c == "}":
                if top[1] == 0 and len(stack) > 1:
                    stack.pop()  # the `}` closing a `${`
                else:
                    top[1] -= 1
            i += 1
    return len(lines)


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "src/main/scala"
    files = total = code = 0
    for d, _, names in os.walk(root):
        for name in names:
            if name.endswith(".scala"):
                with open(os.path.join(d, name), encoding="utf-8") as f:
                    text = f.read()
                files += 1
                total += text.count("\n") + (0 if text.endswith("\n") or not text else 1)
                code += code_lines(text)
    print(json.dumps({"root": root, "files": files, "total": total, "code": code}))


if __name__ == "__main__":
    main()
