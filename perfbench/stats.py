"""Pure arithmetic behind the reported metrics."""
import statistics

TAIL_BEYOND = 10


def tail(values, beyond=TAIL_BEYOND):
    """The highest percentile with at least `beyond` samples above it.

    Returns (value, percentile, samples beyond). With n sorted samples
    the value at 0-based index n - beyond - 1 has exactly `beyond`
    samples above it. A run with no more than `beyond` samples has no
    such percentile; it reports its largest sample (p100, none beyond),
    so that a slower operation still moves the figure.
    """
    s = sorted(values)
    if not s:
        raise ValueError("no samples")
    k = len(s) - beyond - 1 if len(s) > beyond else len(s) - 1
    return s[k], 100.0 * (k + 1) / len(s), len(s) - k - 1


def covered_ns(parent, children):
    """Length of the union of `children` intervals inside `parent`."""
    a0, b0 = parent
    spans = sorted((max(a, a0), min(b, b0)) for a, b in children)
    total, cur_a, cur_b = 0, None, None
    for a, b in spans:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """{(op, name): self time in ns} for spans given as dicts with op,
    name, parent, start_ns and end_ns. A span's self time is its
    duration minus the part of its interval its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault((s["op"], s["parent"]), []).append(
            (s["start_ns"], s["end_ns"]))
    out = {}
    for s in spans:
        iv = (s["start_ns"], s["end_ns"])
        out[(s["op"], s["name"])] = (iv[1] - iv[0]) - covered_ns(
            iv, kids.get((s["op"], s["name"]), []))
    return out


def passes(ops, size):
    """Wall time of each complete group of `size` consecutive ops,
    from the first op's start to the last op's end."""
    out = []
    for g in range(len(ops) // size):
        grp = ops[g * size:(g + 1) * size]
        end = grp[-1]["start_ns"] + grp[-1]["wall_s"] * 1e9
        out.append((end - grp[0]["start_ns"]) / 1e9)
    return out


def paired_overhead(ops):
    """Median of traced/untraced wall time over the pairs (ops 0-1, 2-3,
    ...) holding one traced and one untraced op, minus one."""
    ratios = []
    for a, b in zip(ops[0::2], ops[1::2]):
        if a["traced"] != b["traced"]:
            t, u = (a, b) if a["traced"] else (b, a)
            ratios.append(t["wall_s"] / u["wall_s"])
    return statistics.median(ratios) - 1.0 if ratios else 0.0

