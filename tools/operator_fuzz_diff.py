"""Compare two tools/operator_fuzz.jsh dumps (same SEED/N, two builds).

Prints every input whose Dialect.prepare output differs, grouped by the
first operator at or after the first differing character, then sorts the
same inputs into change classes (a clause pass stopped part way by its
old step cap, keyword operands left whole, mangled postfix operands
repaired, ...) with a count each.
The classes are text patterns on the two outputs, checked in order; the
first that matches wins, and `other` lists every input none matched.

    python3 tools/operator_fuzz_diff.py old.out new.out [--examples N]

--examples caps the inputs printed per group (default: all)."""
import argparse
import re
from collections import defaultdict


def load(p):
    return [r.split("\1", 1) for r in open(p, encoding="utf-8").read().split("\0") if r]


KW = ("select|where|when|then|else|and|or|not|in|on|by|having|return|returning|case|between|like|"
      "ilike|is|all|any|some|distinct|as|limit|offset|set|values|from|end|join|using|into|group|"
      "order|union|intersect|except|cross|natural|lateral|exists|escape|qualify|window|over|partition|"
      "glob|similar|to")
OPS = ("json_extract_string|json_extract|duck_div|duck_mod|divide|power|regexp_full_match|"
       "duck_glob|startswith|duck_subscript|substr|duck_icast")
ARITH = set("duck_div|duck_mod|divide|power|regexp_full_match|duck_glob|startswith|duck_icast".split("|"))
DOT = "len|upper|f"  # the fuzz's own `.name()` spellings
POSTFIX = {"duck_subscript", "substr", "json_extract", "json_extract_string", "len", "upper", "f"}


def mask(s):
    return re.sub(r"'(?:[^']|'')*'?|\"[^\"]*\"?|`[^`]*`?|--[^\n]*|/\*.*?(?:\*/|$)",
                  lambda m: " " * len(m.group()), s, flags=re.S)


def first_args(s):
    """(name, first argument) of every call in `s` but unlowered `.f(` sites."""
    m, out = mask(s), []
    for c in re.finditer(r"\b([A-Za-z_]\w*)\(", m):
        if c.start() > 0 and m[c.start() - 1] == ".":
            continue
        d, j = 0, c.end()
        while j < len(m) and not (d == 0 and m[j] in ",)"):
            d += m[j] in "(["; d -= m[j] in ")]"; j += 1
        if j < len(m):  # an unclosed call has no argument list to judge
            out.append((c.group(1), s[c.end():j].strip()))
    return out


bad = re.compile(r"^(?:" + KW + r")\b|\b(?:" + KW + r")\s*$|^::|^$|^[-+]?\d[\w.]*\s+\(", re.I)


def non_operand(fa):
    """No operand DuckDB parses: a keyword at either end, a cast with no
    base, nothing, a number as a call name, a stray match/power operator;
    for a receiver or subscript base also a number or a dot-led name."""
    fn, arg = fa
    flat = re.sub(r"\([^()]*\)", "()", re.sub(r"\([^()]*\)", "()", arg))
    return (bool(bad.search(arg)) or "~" in arg or "^" in arg or
            fn in ARITH and bool(re.search(r"\b(?:" + KW + r")\b", flat, re.I)) or
            fn in POSTFIX and bool(re.match(r"[-+]?\d|\.", arg)))


# a lowered call glued to the tail of a mangled operand, or an operand
# split at a dot: `f(x)duck_div(.y`, `"t".power(`, `'it'substr(`,
# `--duck_subscript(c`, `rightlen((`, `duck_subscript(, 1)`, `f(`t`, …)`
glued = re.compile(r"\.(?:\(NOT )?(?:" + "|".join(ARITH) + r")\(|[)\]'`\":-](?:\(NOT )?(?:" + OPS + "|" + DOT +
                   r")\(|\b(?:left|right|end)(?:" + DOT + r"|substr|json_extract|json_extract_string)\(|duck_subscript\(\s*,|"
                   r"\((?:`t`,|\.,)|\b(?:FILTER|OVER) \w+\(\(|"
                   # a window/FILTER clause cut from its call: `OVER f((PARTITION BY g)`,
                   # `count(*)) FILTER g(…`, `OVER (NOT regexp_full_match(…`
                   r"\b(?:FILTER|OVER) (?!\()|"
                   r"\bOVER \((?!ORDER|PARTITION|\))|\bFILTER \((?!WHERE)|\bFILTER \(WHERE (?:NOT )?\w+\(", re.I)

# an operator with no operand before it (statement start, keyword, another
# operator, a stray bracket) directly ahead of a lowered call: the old
# chain scanner stopped there and lowered the tail alone
into_nothing = re.compile(r"(?:^|\b(?:" + KW + r")|[(\[\],=<>~!^@*/%|+:#-])\s*(?:\|\||[*/%+-])\s*(?:\(NOT )?(?:"
                          r"duck_div|duck_mod|divide|regexp_full_match|duck_glob|startswith)\(", re.I)
created = re.compile(r"\.\s+[A-Za-z_]\w*\(")
site = re.compile(r"\.\s*[A-Za-z_]\w*\s*\(")


# what a clause pass leaves when a step cap stops it part way: its own
# sites, one pattern per pass, or a statement-wide FRAME_* reject for a
# frame the pass executes
capped = [re.compile(p, re.I) for p in (
    r"\bQUALIFY\b", r"\bDISTINCT\s+ON\s*\(", r"\bGROUPING\s*\([^()]*,",
    r"(?:=|<>|!=|<|>)\s*(?:ANY|SOME|ALL)\s*\(\s*SELECT\b", r"\bUSING\s+SAMPLE\b",
    r"\bfill\s*\(", r"\b(?!(?:over|group|filter|as|from|join)\b)\w+\s*\((?!\s*SELECT\b)[^()]*\bORDER\s+BY\b",
    r"\bunnest\s*\(", r"\bWINDOW\s+\w+\s+AS\s*\(", r"\bFILTER\s*\([^()]*\)\s*OVER\b",
    r"\bGROUPS\s+BETWEEN\b", r"\bEXCLUDE\s+(?:CURRENT\s+ROW|GROUP|TIES|NO\s+OTHERS)\b")]
frame_reject = re.compile(r"__graft_rejected_FRAME_")


def cls(inp, old, new):
    mo, mn = mask(old), mask(new)
    n = lambda r, t: len(r.findall(t))
    if any(n(c, mo) > n(c, mn) for c in capped) or n(frame_reject, old) > n(frame_reject, new):
        return "past a parent cap: the old pass stopped with clause sites left"
    if mo.count("//") > mn.count("//") and new.count("divide(") > old.count("divide("):
        return "statements past an unparsable //"
    if n(glued, old) > n(glued, new) or old.startswith("ERROR") and not new.startswith("ERROR"):
        return "postfix receiver/base/operand the old scanners mangled"
    if sum(map(non_operand, first_args(old))) > sum(map(non_operand, first_args(new))) or \
            n(re.compile(r"\bOVER \w+\(", re.I), old) > n(re.compile(r"\bOVER \w+\(", re.I), new) or \
            n(re.compile(r"\b(?:GLOB|TO) \(", re.I), old) > n(re.compile(r"\b(?:GLOB|TO) \(", re.I), new) or \
            n(re.compile(r"[(,] ?\d[\d.]* \("), old) > n(re.compile(r"[(,] ?\d[\d.]* \("), new):
        return "keyword or non-operand receiver/operand, now left whole"
    if n(into_nothing, mask(old).replace("//", "#")) > n(into_nothing, mask(new).replace("//", "#")):
        return "operator chain running into a non-operand, now left whole"
    signed = lambda t: sum(bool(re.match(r"[-+]", a)) for _, a in first_args(t))
    if n(re.compile(r"-power\("), old) > n(re.compile(r"-power\("), new) or signed(new) > signed(old):
        return "a sign after GLOB / SIMILAR TO is unary and joins its operand (-2^2 = 4)"
    spaced = lambda t: sum(bool(re.match(r"\w+ \(", a)) for _, a in first_args(t))
    if spaced(new) > spaced(old) or re.search(r"\w \([^()]*\)\s*(?:\.\w+\(|\[)", mask(inp)) or \
            new.startswith("ERROR") and re.search(r"\w \(ORDER BY", inp):
        return "spaced call `name (...)` now a whole receiver/base"
    if n(created, mn) > n(created, mo):
        return "a `.name(` a splice created is no longer lowered"
    mi = mask(inp)
    if n(site, mo) > n(site, mn) and mi.count("(") > mi.count(")"):
        return "unclosed .f( paren no longer stops the pass"
    return "other"


# the first operator at or after the first difference names the group
OPERATOR = re.compile(r"\.\s*[A-Za-z_]\w*\s*\(|->>?|\[|\^@|\^|\*\*|//|/|%|!~|~~~|~|GLOB|SIMILAR|::", re.I)


def first_operator(old, new):
    d = next((i for i, (p, q) in enumerate(zip(old, new)) if p != q), min(len(old), len(new)))
    hits = [m for m in (OPERATOR.search(old, d), OPERATOR.search(new, d)) if m]
    return re.sub(r"\s+", "", min(hits, key=lambda m: m.start()).group(0)) if hits else "(none)"


def show(rows, cap):
    for inp, x, y in rows[:cap]:
        for tag, t in (("in ", inp), ("old", x), ("new", y)):
            print(f"  {tag}:", t.replace("\n", "\\n"))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--examples", type=int, default=None)
    args = ap.parse_args()
    a, b = load(args.old), load(args.new)
    assert [x[0] for x in a] == [x[0] for x in b], "inputs differ: same SEED/N/MODE on both sides?"
    diffs = [(inp, x, y) for (inp, x), (_, y) in zip(a, b) if x != y]
    print(f"{len(diffs)} of {len(a)} inputs differ")
    by_op, by_class = defaultdict(list), defaultdict(list)
    for row in diffs:
        by_op[first_operator(row[1], row[2])].append(row)
        by_class[cls(*row)].append(row)
    for op, rows in sorted(by_op.items(), key=lambda kv: -len(kv[1])):
        print(f"\n=== operator {op}: {len(rows)}")
        show(rows, args.examples)
    print("\n#### classes")
    for c, rows in sorted(by_class.items(), key=lambda kv: -len(kv[1])):
        print(f"{len(rows):6d}  {c}")
    if by_class.get("other"):
        print("\n=== unclassified")
        show(by_class["other"], args.examples)


if __name__ == "__main__":
    main()
