#!/usr/bin/env python3
"""Census of defaulted parameters in the engine's Scala sources.

    python3 tools/param_census.py            # one line per defaulted parameter + TOTAL
    python3 tools/param_census.py --unset    # only those no call site passes

A defaulted parameter is a `name: Type = default` entry of a `def` or
`case class` parameter list under `src/main/scala`, outside `Bench` and
`Verify`. With `--unset`, every call site of the owner's name
under `src/main/scala`, `src/test/scala` and `perfbench/src` (plus
`.copy(...)` for case classes) is parsed, and a parameter counts as set
when some call passes it by position or by name. Overloads that share a
name are pooled, so `--unset` errs towards "set"; the compiler is the
final word once a parameter is deleted.
"""
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DECL_ROOTS = ["src/main/scala"]
CALL_ROOTS = ["src/main/scala", "src/test/scala", "perfbench/src"]
EXCLUDED = {"Bench", "Verify"}
PARAM = re.compile(r"\s*(?:implicit\s+)?(?:(?:private|protected|override|final|val|var)\s+)*"
                   r"([A-Za-z_]\w*)\s*:(.*)$", re.S)
NAMED_ARG = re.compile(r"\s*[A-Za-z_]\w*\s*=(?![=>])")


# Scala comments and string/char literals: one match per lexeme, so a `//`
# inside a string is not a comment and a quote inside a comment opens no string
LEXEMES = re.compile(r'//[^\n]*|/\*.*?\*/|""".*?"""|"(?:\\.|[^"\\\n])*"|\'(?:\\.|[^\'\\])\'', re.S)


def blank(src):
    """`src` with comments and string/char literal contents blanked to
    spaces, so parentheses inside them do not count."""
    return LEXEMES.sub(lambda m: re.sub(r"[^\n]", " ", m.group(0)), src)


def arg_groups(s, i):
    """The consecutive `(...)` groups at s[i] (type params skipped), each
    as its list of top-level comma-separated argument strings."""
    out = []
    while True:
        while i < len(s) and s[i] in " \t":
            i += 1
        if i < len(s) and s[i] == "[":
            depth = 0
            while i < len(s):
                depth += (s[i] == "[") - (s[i] == "]")
                i += 1
                if depth == 0:
                    break
            continue
        if i >= len(s) or s[i] != "(":
            return out
        depth, start, args, j = 0, i + 1, [], i
        while j < len(s):
            c = s[j]
            if c in "([{":
                depth += 1
            elif c in ")]}":
                depth -= 1
                if depth == 0:
                    if s[start:j].strip():
                        args.append(s[start:j])
                    break
            elif c == "," and depth == 1:
                args.append(s[start:j])
                start = j + 1
            j += 1
        out.append(args)
        i = j + 1


def scala_files(roots):
    for root in roots:
        for dirpath, _, names in os.walk(os.path.join(ROOT, root)):
            for name in sorted(names):
                if name.endswith(".scala"):
                    path = os.path.join(dirpath, name)
                    yield os.path.relpath(path, ROOT), blank(open(path).read())


def declarations():
    """(path, line, owner, is_case_class, [(group, index, name)]) of each
    declaration with at least one defaulted parameter."""
    for path, s in scala_files(DECL_ROOTS):
        if os.path.basename(path)[:-6] in EXCLUDED:
            continue
        for m in re.finditer(r"\b(?:def\s+([\w$]+)|case\s+class\s+(\w+))", s):
            defaulted = []
            for g, args in enumerate(arg_groups(s, m.end())):
                for a, arg in enumerate(args):
                    p = PARAM.match(arg)
                    if p and re.search(r"(?<![=<>!])=(?![=>])", p.group(2)):
                        defaulted.append((g, a, p.group(1)))
            if defaulted:
                yield path, s.count("\n", 0, m.start()) + 1, m.group(1) or m.group(2), \
                    bool(m.group(2)), defaulted


def passes(args, index, name):
    positional = 0
    for arg in args:
        if NAMED_ARG.match(arg):
            break
        positional += 1
    return positional > index or any(re.match(r"\s*%s\s*=(?![=>])" % name, a) for a in args)


def main(unset_only):
    files = list(scala_files(CALL_ROOTS)) if unset_only else []
    total = 0
    for path, line, owner, case_class, defaulted in declarations():
        calls = []
        if unset_only:
            site = re.compile(r"(?<![\w$])%s\s*(?=[\[(])" % re.escape(owner))
            for _, s in files:
                for m in site.finditer(s):
                    if not re.search(r"(def|class)\s+$", s[max(0, m.start() - 12):m.start()]):
                        calls.append(arg_groups(s, m.end()))
                if case_class:  # `x.copy(field = ...)` sets a field by name only
                    for m in re.finditer(r"\.copy\s*(?=\()", s):
                        groups = arg_groups(s, m.end())
                        if groups:
                            calls.append([[a for a in groups[0] if NAMED_ARG.match(a)]])
        for g, a, name in defaulted:
            if unset_only and any(len(c) > g and passes(c[g], a, name) for c in calls):
                continue
            total += 1
            print(f"{path}:{line}: {owner}.{name}")
    print(f"TOTAL {total}")


if __name__ == "__main__":
    main("--unset" in sys.argv[1:])
