#!/usr/bin/env python3
"""Print the three size counts a simplicity change reports (ROADMAP aim 2).

    python3 tools/size_counts.py [CHECKOUT]     # default: this checkout

- main_source_lines: lines of every .scala file under src/main, the same
  number as `find src/main -name '*.scala' | xargs cat | wc -l`;
- config_fields: the fields of `GraftApp.Config`, the CLI's options;
- env_knobs: the distinct environment variables main code reads
  (`sys.env…("NAME")`, `System.getenv("NAME")`, or a lookup in an
  environment map passed as `env`, e.g. `env.get("NAME")`), listed by
  name;
- pump_params: the parameters, over every parameter list, of every
  non-private member `def` (of an object, class or trait; local defs
  inside a method body are not counted) under
  src/main/scala/graft/streaming/ — what a caller of the pumps, the
  stores and the census legs can set.

Run it on a clone of the parent commit and on the change to get the
before/after deltas.
"""
import os
import re
import sys

CONFIG_FILE = "src/main/scala/graft/app/GraftApp.scala"
PUMP_DIR = "src/main/scala/graft/streaming"
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


def strip_scala(text):
    """Blank out comments and string/char literals, keeping offsets."""
    out, i, n = [], 0, len(text)
    while i < n:
        if text.startswith("//", i):
            j = text.find("\n", i)
            j = n if j < 0 else j
        elif text.startswith("/*", i):
            j = text.find("*/", i + 2)
            j = n if j < 0 else j + 2
        elif text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
        elif text[i] == '"':
            j = i + 1
            while j < n and text[j] != '"':
                j += 2 if text[j] == "\\" else 1
            j += 1
        elif re.match(r"'(\\.|[^'\\\n])'", text[i:i + 4]):
            j = i + len(re.match(r"'(\\.|[^'\\\n])'", text[i:i + 4]).group(0))
        else:
            out.append(text[i])
            i += 1
            continue
        out.append(re.sub(r"[^\n]", " ", text[i:j]))
        i = j
    return "".join(out)


def balanced(text, i):
    """Index just past the bracket group opening at text[i]."""
    depth = 0
    while i < len(text):
        if text[i] in "([{":
            depth += 1
        elif text[i] in ")]}":
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    return i


def top_level_commas(group):
    depth, n = 0, 0
    for ch in group:
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        elif ch == "," and depth == 0:
            n += 1
    return n


def def_params(text, i):
    """Parameters of the def whose name starts at text[i]."""
    m = re.compile(r"[A-Za-z_][A-Za-z0-9_]*|[^\s\[(:=]+").match(text, i)
    i = m.end()
    count = 0
    while True:
        while i < len(text) and text[i].isspace():
            i += 1
        if i >= len(text) or text[i] not in "[(":
            return count
        end = balanced(text, i)
        if text[i] == "(":
            inner = text[i + 1:end - 1].strip()
            if inner:
                count += top_level_commas(inner) + 1
        i = end


def pump_params(root):
    """Parameters of the non-private member defs under PUMP_DIR."""
    total = 0
    for d, _, names in os.walk(os.path.join(root, PUMP_DIR)):
        for name in sorted(names):
            if not name.endswith(".scala"):
                continue
            with open(os.path.join(d, name), encoding="utf-8") as f:
                text = strip_scala(f.read())
            # brace stack: True for a template body (object/class/trait)
            stack, header_start = [], 0
            for m in re.finditer(r"[{};]|\bdef\s+", text):
                tok = m.group(0)
                if tok == "{":
                    header = text[header_start:m.start()]
                    kw = re.search(r"\b(object|class|trait)\b", header)
                    stack.append(bool(kw) and not re.search(
                        r"\b(def|val|var|new)\b|=", header[:kw.start()]))
                    header_start = m.end()
                elif tok == "}":
                    if stack:
                        stack.pop()
                    header_start = m.end()
                elif tok == ";":
                    header_start = m.end()
                elif stack and stack[-1]:
                    line = text[text.rfind("\n", 0, m.start()) + 1:m.start()]
                    if not re.search(r"\bprivate\b", line):
                        total += def_params(text, m.end())
    return total


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    knobs = env_knobs(root)
    print(f"main_source_lines {main_source_lines(root)}")
    print(f"config_fields {config_fields(root)}")
    print(f"env_knobs {len(knobs)} {' '.join(knobs)}")
    print(f"pump_params {pump_params(root)}")


if __name__ == "__main__":
    main()
