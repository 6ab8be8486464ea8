#!/usr/bin/env python3
"""Count Scala code lines: non-blank lines that keep something outside
`//` line comments and `/* */` block comments (nested, as Scala nests
them). String and character literals are skipped while scanning, so a
`//` or `/*` inside a literal is code, not a comment.

Usage:
  python3 tools/codelines.py FILE.scala [FILE.scala ...]
      code lines per file, then the total.
  python3 tools/codelines.py --diff A..B [-- PATH ...]
      for every .scala file that differs between commits A and B (B may be
      empty for the working tree, as in `A..`), code lines at A, at B and
      the net change, then the totals. A file absent on one side counts 0.

Stdlib only; run from inside the git repository for --diff.
"""
import subprocess
import sys


def code_lines(text):
    """Number of lines of `text` that hold code outside comments."""
    count = 0
    depth = 0          # nesting depth of /* */ comments
    in_str = None      # None, '"', '"""' or "'"
    i, n = 0, len(text)
    line_has_code = False
    while i < n:
        c = text[i]
        if c == "\n":
            if line_has_code:
                count += 1
            line_has_code = False
            if in_str in ('"', "'"):
                in_str = None  # single-line literal cannot span lines
            i += 1
            continue
        if depth:
            if text.startswith("/*", i):
                depth += 1
                i += 2
            elif text.startswith("*/", i):
                depth -= 1
                i += 2
            else:
                i += 1
            continue
        if in_str:
            line_has_code = line_has_code or not c.isspace()
            if in_str == '"""':
                if text.startswith('"""', i):
                    # a run of quotes closes on its last three
                    j = i
                    while j < n and text[j] == '"':
                        j += 1
                    in_str = None
                    i = j
                else:
                    i += 1
            else:
                if c == "\\":
                    i += 2
                elif c == in_str:
                    in_str = None
                    i += 1
                else:
                    i += 1
            continue
        if text.startswith("//", i):
            j = text.find("\n", i)
            i = n if j < 0 else j
            continue
        if text.startswith("/*", i):
            depth = 1
            i += 2
            continue
        if c.isspace():
            i += 1
            continue
        line_has_code = True
        if text.startswith('"""', i):
            in_str = '"""'
            i += 3
        elif c == '"':
            in_str = '"'
            i += 1
        elif c == "'" and _is_char_literal(text, i):
            in_str = "'"
            i += 1
        else:
            i += 1
    if line_has_code:
        count += 1
    return count


def _is_char_literal(text, i):
    """A quote opens a char literal ('a', '\\n', '\\u0041'), not a symbol."""
    if text.startswith("\\", i + 1):
        return True
    return i + 2 < len(text) and text[i + 2] == "'"


def _git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True,
                          text=True).stdout


def _at(rev, path):
    """File text at `rev` ('' = working tree); '' when absent."""
    if not rev:
        try:
            with open(path, encoding="utf-8") as f:
                return f.read()
        except FileNotFoundError:
            return ""
    r = subprocess.run(["git", "show", f"{rev}:{path}"], capture_output=True,
                       text=True)
    return r.stdout if r.returncode == 0 else ""


def diff_report(spec, paths):
    a, _, b = spec.partition("..")
    rng = [a, b] if b else [a]
    names = [p for p in _git("diff", "--name-only", *rng, "--", *paths).split()
             if p.endswith(".scala")]
    ta = tb = 0
    for p in names:
        ca, cb = code_lines(_at(a, p)), code_lines(_at(b, p))
        ta, tb = ta + ca, tb + cb
        print(f"{ca:7d} {cb:7d} {cb - ca:+7d}  {p}")
    print(f"{ta:7d} {tb:7d} {tb - ta:+7d}  total ({len(names)} files)")


def main(argv):
    if not argv or argv[0] in ("-h", "--help"):
        print(__doc__)
        return 0 if argv else 2
    if argv[0] == "--diff":
        if len(argv) < 2 or ".." not in argv[1]:
            print("--diff needs A..B", file=sys.stderr)
            return 2
        rest = argv[2:]
        diff_report(argv[1], rest[1:] if rest[:1] == ["--"] else rest)
        return 0
    total = 0
    for p in argv:
        with open(p, encoding="utf-8") as f:
            c = code_lines(f.read())
        total += c
        print(f"{c:7d}  {p}")
    if len(argv) > 1:
        print(f"{total:7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
