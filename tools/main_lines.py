#!/usr/bin/env python3
"""Line counts of the main Scala sources, src/main/scala.

    python3 tools/main_lines.py          # the working tree
    python3 tools/main_lines.py HEAD~1   # a git revision

Prints the raw line count and the count of code lines: lines left
non-blank once // and /* */ comments (scaladoc included) are removed.
Comment markers inside string and character literals are not comments.
"""
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAIN = "src/main/scala"


def sources(rev):
    """(path, text) of every .scala file under MAIN, at `rev` or in the working tree."""
    if rev is None:
        for d, _, names in os.walk(os.path.join(ROOT, MAIN)):
            for n in sorted(names):
                if n.endswith(".scala"):
                    with open(os.path.join(d, n), encoding="utf-8") as f:
                        yield os.path.join(d, n), f.read()
        return
    git = ["git", "-C", ROOT]
    names = subprocess.run(git + ["ls-tree", "-r", "--name-only", rev, "--", MAIN],
                           check=True, capture_output=True, text=True).stdout.split()
    for n in names:
        if n.endswith(".scala"):
            yield n, subprocess.run(git + ["show", f"{rev}:{n}"], check=True,
                                    capture_output=True, text=True).stdout


def code_lines(text):
    """Lines holding something other than comments and whitespace."""
    count, depth, quote, line_has_code = 0, 0, None, False
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c == "\n":
            count += line_has_code
            line_has_code = False
            if quote == '"':  # an unterminated single-line string ends here
                quote = None
            i += 1
        elif depth:  # inside a (nestable) block comment
            if text.startswith("/*", i):
                depth, i = depth + 1, i + 2
            elif text.startswith("*/", i):
                depth, i = depth - 1, i + 2
            else:
                i += 1
        elif quote:
            line_has_code = line_has_code or not c.isspace()
            if quote == '"""' and text.startswith('"""', i):
                while text.startswith('""""', i):  # trailing quotes belong to the string
                    i += 1
                quote, i = None, i + 3
            elif quote == '"' and c == "\\":
                i += 2
            elif quote == '"' and c == '"':
                quote, i = None, i + 1
            else:
                i += 1
        elif text.startswith("//", i):
            while i < n and text[i] != "\n":
                i += 1
        elif text.startswith("/*", i):
            depth, i = 1, i + 2
        elif text.startswith('"""', i):
            quote, line_has_code, i = '"""', True, i + 3
        elif c == '"':
            quote, line_has_code, i = '"', True, i + 1
        elif c == "'" and i + 2 < n and (text[i + 2] == "'" or text[i + 1] == "\\"):
            # a character literal: 'x' or '\n' / '\''
            end = text.index("'", i + 3) if text[i + 1] == "\\" else i + 2
            line_has_code, i = True, end + 1
        else:
            line_has_code = line_has_code or not c.isspace()
            i += 1
    return count + line_has_code


def counts(rev):
    raw = code = 0
    for _, text in sources(rev):
        raw += text.count("\n") + (0 if text.endswith("\n") or not text else 1)
        code += code_lines(text)
    return raw, code


def main(args):
    if len(args) > 1:
        sys.exit(__doc__)
    rev = args[0] if args else None
    raw, code = counts(rev)
    print(f"{rev or 'working tree'}: {raw} raw, {code} code")


if __name__ == "__main__":
    main(sys.argv[1:])
