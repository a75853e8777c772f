#!/usr/bin/env python3
"""Compare the stdout contract of two graft.Bench runs.

    python3 tools/bench_contract.py A.out B.out [A.json B.json]

A.out and B.out are Bench stdout captures; A.json and B.json are the
optional bench_full_* files of the same runs. The tool prints every
difference in

  - the set of `metric` line kinds,
  - the recursive key paths of the full `summary` line and of the final
    compact line (and of the bench_full_* files, when given),
  - the key set of the `sweep_queries` line,

and checks that the last stdout line of each capture is at most 2000
characters (a recorded run keeps only that much of the tail). It exits 1 on
any difference or failed check, 0 otherwise.

Maps keyed by query name (`queries`, `slowest`, `per_query_exec`, the
per-query second maps) and `errors` are data, not schema: their own path
is compared, their members are not, because which queries they hold
depends on measured times. Likewise an empty array (no subset change, no
failure) shows no element keys, so element paths `name[].key` are
compared only where both sides have elements.
"""
import json
import re
import sys

TAIL_LIMIT = 2000
DATA_MAPS = {"queries", "slowest", "errors", "per_query_exec"}
QUERY = re.compile(r"^q_[a-z0-9_]+$")


def paths(obj, prefix=""):
    """Every key path of a JSON value; arrays of objects as `name[]`."""
    out = set()
    if isinstance(obj, dict):
        for k, v in obj.items():
            p = prefix + k
            out.add(p)
            if k in DATA_MAPS or (isinstance(v, dict) and v and all(QUERY.match(x) for x in v)):
                continue
            out |= paths(v, p + ".")
    elif isinstance(obj, list):
        if not obj:
            out.add(prefix.rstrip(".") + "[]<empty>")
        for v in obj:
            if isinstance(v, (dict, list)):
                out |= paths(v, prefix.rstrip(".") + "[].")
    return out


def load(capture):
    """(metric lines in order, raw last non-empty line) of one capture."""
    with open(capture, encoding="utf-8") as f:
        raw = [l.rstrip("\n") for l in f if l.strip()]
    lines = []
    for l in raw:
        if l.startswith("{") and '"metric"' in l:
            try:
                lines.append(json.loads(l))
            except ValueError:
                lines.append({"metric": "<unparseable>"})
    return lines, (raw[-1] if raw else "")


def pick(lines):
    """The full summary line, the final compact line and sweep_queries."""
    full = [l for l in lines if l.get("metric") == "summary" and "slowest" in l]
    compact = [l for l in lines if l.get("metric") == "summary" and "slowest" not in l]
    sweep = [l for l in lines if l.get("metric") == "sweep_queries"]
    return (full[-1] if full else None, compact[-1] if compact else None,
            sweep[-1] if sweep else None)


def diff(label, a, b, problems):
    def schema(own, other):
        # element paths under an array the other side has empty are data
        empty = {p[:-len("<empty>")] for p in other if p.endswith("[]<empty>")}
        return {p for p in own if not p.endswith("[]<empty>")
                and not any(p.startswith(e + ".") for e in empty)}
    a, b = schema(a, b), schema(b, a)
    only_a, only_b = sorted(a - b), sorted(b - a)
    if only_a:
        problems.append(f"{label}: only in A: {only_a}")
    if only_b:
        problems.append(f"{label}: only in B: {only_b}")


def main(argv):
    if len(argv) not in (3, 5):
        sys.exit(__doc__)
    problems = []
    picked = []
    for name in argv[1:3]:
        lines, last = load(name)
        if len(last) > TAIL_LIMIT:
            problems.append(f"{name}: last line is {len(last)} chars (> {TAIL_LIMIT})")
        try:
            if json.loads(last).get("metric") != "summary":
                problems.append(f"{name}: last line is not a summary line")
        except ValueError:
            problems.append(f"{name}: last line does not parse as JSON")
        picked.append((lines, pick(lines)))
    (la, (fa, ca, sa)), (lb, (fb, cb, sb)) = picked
    diff("metric kinds", {l["metric"] for l in la}, {l["metric"] for l in lb}, problems)
    for label, a, b in (("summary paths", fa, fb), ("compact paths", ca, cb)):
        if a is None or b is None:
            problems.append(f"{label}: missing in {'A' if a is None else 'B'}")
        else:
            diff(label, paths(a), paths(b), problems)
    if sa is None or sb is None:
        problems.append("sweep_queries: missing in " + ("A" if sa is None else "B"))
    else:
        diff("sweep_queries keys", set(sa["queries"]), set(sb["queries"]), problems)
    if len(argv) == 5:
        with open(argv[3], encoding="utf-8") as f:
            ja = json.load(f)
        with open(argv[4], encoding="utf-8") as f:
            jb = json.load(f)
        diff("bench_full paths", paths(ja), paths(jb), problems)
    for p in problems:
        print(p)
    if problems:
        print(f"bench_contract: {len(problems)} difference(s)")
        return 1
    print(f"bench_contract: no difference ({len(paths(fb))} summary paths, "
          f"{len(paths(cb))} compact paths, {len(sb['queries'])} sweep queries, "
          f"metric kinds {sorted({l['metric'] for l in lb})})")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
