#!/usr/bin/env python3
"""Compare two `graft.Explain` plan dumps lane by lane.

Each dump is the text `graft.Explain` writes (lanes headed by
`===== <name> =====` lines); a file without such headers is one bare
plan (a `plans/r*/<name>_after.txt` dump) named after the file, with a
trailing `_before`/`_after` dropped. Before comparing, the numbers that
change between runs of the same plan are normalized: expression ids
(`#123`), operator numbers (`(45)`, `operator id: 12`), exchange plan
ids, RDD ids, source line numbers of call sites, the random suffixes
of temporary directories, lambda class names and variables, and object
identity hashes.

Spark's distinct-aggregate rewrite orders its Expand projections (and
so the group ids, and the columns that follow them) by what the JVM ran
before, not by the query. A lane with an Expand node whose two plans
differ only that way is listed as `reordered`, not as differing: its
plans match once every list's items are sorted and the group-id
literals masked.

    python3 tools/plan_diff.py OLD NEW            # list differing lanes
    python3 tools/plan_diff.py OLD NEW --show X   # unified diff of lane X

Exit status: 0 when every lane present in both dumps is identical or
reordered, 1 otherwise.
"""
import argparse
import difflib
import os
import re
import sys

HEADER = re.compile(r"^={5,} ([^\s:]+)[^=]* ={5,}$")

NORMALIZE = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"\(\d+\)"), "(N)"),
    (re.compile(r"operator id(:| =) \d+"), r"operator id\1 N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"(\w+\.scala):\d+"), r"\1:N"),
    (re.compile(r"(/tmp/[^/\s,\]]*?)\d{6,}(?=[/\s,\]]|$)"), r"\1N"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda$N"),
    (re.compile(r"@[0-9a-f]{5,8}\b"), "@H"),
]


LAMBDA_VAR = re.compile(r"lambda ([A-Za-z]\w*?_)(\d+)\b")


def normalize(text):
    # Lambda variables are numbered per session (`lambda x_81`); rename
    # every use of each declared one.
    for prefix, num in set(LAMBDA_VAR.findall(text)):
        text = re.sub(rf"\b{prefix}{num}\b", f"{prefix}N", text)
    for pattern, repl in NORMALIZE:
        text = pattern.sub(repl, text)
    return text.strip()


EXPAND = re.compile(r"^\(N\) Expand$")
GID_TEST = re.compile(r"\(gid#N = \d+\)")
BARE_INT = re.compile(r"(?:(?<=\[)|(?<=, ))\d+(?=,|\])")
PAIRS = {"[": "]", "(": ")"}


def sort_lists(line):
    """`line` with the items of every [...] and (...) list sorted, inner
    lists first; unchanged when its brackets do not balance."""
    def group(i, close):
        items, cur = [], ""
        while i < len(line):
            ch = line[i]
            if ch in PAIRS:
                inner, i = group(i + 1, PAIRS[ch])
                cur += ch + inner + PAIRS[ch]
                continue
            if ch in ")]":
                if ch != close:
                    raise ValueError(line)
                return ", ".join(sorted(x.strip() for x in items + [cur])), i + 1
            if ch == "," and close:
                items.append(cur)
                cur = ""
            else:
                cur += ch
            i += 1
        if close:
            raise ValueError(line)
        return cur, i
    try:
        return group(0, None)[0]
    except ValueError:
        return line


def group_order_free(text):
    """A normalized plan with the distinct-aggregate group order erased:
    the group ids on Expand projections and in `gid = k` filters masked,
    every list sorted."""
    out, in_expand = [], False
    for line in text.split("\n"):
        if EXPAND.match(line):
            in_expand = True
        elif in_expand and line.startswith("Arguments: "):
            line, in_expand = BARE_INT.sub("G", line), False
        out.append(sort_lists(GID_TEST.sub("(gid#N = G)", line)))
    return "\n".join(out)


def lanes(path):
    """{lane name: normalized plan text} for one dump file."""
    with open(path, encoding="utf-8") as f:
        lines = f.read().splitlines()
    out, name, body = {}, None, []
    for line in lines:
        m = HEADER.match(line)
        if m:
            if name is not None:
                out[name] = normalize("\n".join(body))
            name, body = m.group(1), []
        else:
            body.append(line)
    if name is not None:
        out[name] = normalize("\n".join(body))
    elif lines:
        stem = re.sub(r"_(before|after)$", "",
                      os.path.splitext(os.path.basename(path))[0])
        out[stem] = normalize("\n".join(lines))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--show", metavar="LANE",
                    help="print the normalized unified diff of one lane")
    args = ap.parse_args()
    old, new = lanes(args.old), lanes(args.new)

    if args.show:
        a = old.get(args.show, "").splitlines()
        b = new.get(args.show, "").splitlines()
        sys.stdout.writelines(line + "\n" for line in difflib.unified_diff(
            a, b, args.old, args.new, lineterm=""))
        return 0

    common = sorted(set(old) & set(new))
    changed = [n for n in common if old[n] != new[n]]
    reordered = [n for n in changed if "Expand" in old[n]
                 and group_order_free(old[n]) == group_order_free(new[n])]
    differ = [n for n in changed if n not in reordered]
    for n in sorted(set(old) - set(new)):
        print(f"only in {args.old}: {n}")
    for n in sorted(set(new) - set(old)):
        print(f"only in {args.new}: {n}")
    for n in reordered:
        print(f"reordered: {n}")
    for n in differ:
        print(f"differs: {n}")
    print(f"{len(common)} lanes compared, {len(common) - len(changed)} "
          f"identical, {len(reordered)} reordered, {len(differ)} differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main())
