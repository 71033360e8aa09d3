#!/usr/bin/env python3
"""Print the three size counts a simplicity change reports (ROADMAP aim 2).

    python3 tools/size_counts.py [CHECKOUT]     # default: this checkout

- main_source_lines: lines of every .scala file under src/main, the same
  number as `find src/main -name '*.scala' | xargs cat | wc -l`;
- config_fields: the fields of `GraftApp.Config`, the CLI's options;
- env_knobs: the distinct environment variables main code reads
  (`sys.env…("NAME")`, `System.getenv("NAME")`, or a lookup in an
  environment map passed as `env`, e.g. `env.get("NAME")`), listed by
  name.

Run it on a clone of the parent commit and on the change to get the
before/after deltas.
"""
import os
import re
import sys

CONFIG_FILE = "src/main/scala/graft/app/GraftApp.scala"
ENV_READ = re.compile(
    r'(?:\benv(?:\.get|\.getOrElse|\.contains)?|System\.getenv)\s*\(\s*"([A-Za-z0-9_]+)"')


def scala_files(root):
    for d, _, names in os.walk(os.path.join(root, "src", "main")):
        for n in sorted(names):
            if n.endswith(".scala"):
                yield os.path.join(d, n)


def main_source_lines(root):
    total = 0
    for p in scala_files(root):
        with open(p, "rb") as f:
            total += f.read().count(b"\n")
    return total


def config_fields(root):
    """Count the top-level parameters of `case class Config(...)`."""
    with open(os.path.join(root, CONFIG_FILE), encoding="utf-8") as f:
        text = f.read()
    start = text.index("case class Config(") + len("case class Config(")
    depth, fields, seen = 1, 0, False
    i = start
    while depth > 0:
        ch = text[i]
        if text.startswith("//", i):  # line comment: skip to end of line
            i = text.index("\n", i)
            continue
        if ch == '"':  # string literal: skip to its closing quote
            i = text.index('"', i + 1) + 1
            seen = True
            continue
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        elif ch == "," and depth == 1:
            fields += 1
            seen = False
            i += 1
            continue
        if depth >= 1 and not ch.isspace():
            seen = True
        i += 1
    return fields + (1 if seen else 0)


def env_knobs(root):
    names = set()
    for p in scala_files(root):
        with open(p, encoding="utf-8") as f:
            names.update(ENV_READ.findall(f.read()))
    return sorted(names)


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    knobs = env_knobs(root)
    print(f"main_source_lines {main_source_lines(root)}")
    print(f"config_fields {config_fields(root)}")
    print(f"env_knobs {len(knobs)} {' '.join(knobs)}")


if __name__ == "__main__":
    main()
