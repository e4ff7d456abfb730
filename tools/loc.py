#!/usr/bin/env python3
"""Count code lines: non-blank lines that are not comments.

A line counts unless it is blank, a `//` comment line, or inside a
`/* ... */` block (scaladoc included). Prints the total for
src/main/scala under the working directory, then one line per file
given. Run it from a checkout's root:

    python3 tools/loc.py [file ...]
"""
import os
import sys


def code_lines(path):
    n = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = line.strip()
            if in_block:
                if "*/" in s:
                    in_block = False
                    s = s.split("*/", 1)[1].strip()
                else:
                    continue
            if s.startswith("/*"):
                if "*/" not in s[2:]:
                    in_block = True
                    continue
                s = s[2:].split("*/", 1)[1].strip()
            if s and not s.startswith("//"):
                n += 1
    return n


def main(files):
    root = os.path.join("src", "main", "scala")
    total = sum(code_lines(os.path.join(d, f))
                for d, _, fs in os.walk(root) for f in fs if f.endswith(".scala"))
    print(f"{total}\tsrc/main/scala")
    for f in files:
        print(f"{code_lines(f)}\t{f}")


if __name__ == "__main__":
    main(sys.argv[1:])
