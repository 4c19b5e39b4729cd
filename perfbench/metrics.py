"""The benchmark's arithmetic and output checks, kept free of I/O beyond
DuckDB so the tests in test_metrics.py can drive them directly."""
import hashlib
import math
import struct
from decimal import Decimal

PERCENTILES = (99, 95, 90, 75, 50)


def highest_percentile(n, beyond=10):
    """The highest of PERCENTILES that leaves at least `beyond` of `n`
    samples above it, or None when even the median does not."""
    for p in PERCENTILES:
        if n * (100 - p) / 100.0 >= beyond:
            return p
    return None


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def failed_frac(ops):
    """Share of operations that threw or returned a wrong result."""
    if not ops:
        raise ValueError("no operations attempted")
    return sum(1 for o in ops if o.get("failure")) / len(ops)


def self_times(spans):
    """Per span name, the summed self time in ns: each span's duration minus
    the part of its interval that its child spans cover.

    `spans` holds (id, parent, op, name, start_ns, end_ns) tuples."""
    children = {}
    for s in spans:
        children.setdefault(s[1], []).append(s)
    out = {}
    for sid, _, _, name, t0, t1 in spans:
        ivs = sorted((max(c[4], t0), min(c[5], t1))
                     for c in children.get(sid, ()) if c[5] > t0 and c[4] < t1)
        covered, cur_s, cur_e = 0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[name] = out.get(name, 0) + (t1 - t0) - covered
    return out


def trace_overhead(passes):
    """Median over traced passes of wall ÷ mean wall of the untraced passes
    on either side, minus 1. `passes` is the timed passes in run order as
    (wall, traced) pairs. Comparing each traced pass with its neighbours
    cancels the steady speed-up of a JVM that is still warming."""
    ratios = [w / ((passes[i - 1][0] + passes[i + 1][0]) / 2.0)
              for i, (w, traced) in enumerate(passes)
              if traced and 0 < i < len(passes) - 1
              and not passes[i - 1][1] and not passes[i + 1][1]]
    return percentile(ratios, 50) - 1.0 if ratios else 0.0


# ---- result digests -------------------------------------------------------

_INT_TYPES = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT"}


def _canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else "f" + struct.pack("<d", v).hex()
    if isinstance(v, Decimal):
        return "d" + str(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{_canon(k)}:{_canon(x)}"
                              for k, x in sorted(v.items(), key=str)) + "}"
    return repr(v)


def relation_digest(rel):
    """Digest of a DuckDB relation: columns in name order with their types
    (integer widths up to 64 bits folded together), rows as a multiset."""
    cols = [c.lower() for c in rel.columns]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    types = []
    for i in order:
        t = str(rel.types[i])
        types.append(f"{cols[i]}:{'BIGINT' if t in _INT_TYPES else t}")
    rows = sorted("|".join(_canon(r[i]) for i in order) for r in rel.fetchall())
    h = hashlib.sha1()
    for line in types + ["--"] + rows:
        h.update(line.encode())
        h.update(b"\n")
    return f"{h.hexdigest()}:{len(rows)}"


# ---- product check ----------------------------------------------------------

def check_product(expected, observed):
    """Compare a written product with the generator's own totals. Both are
    dicts with `rows`, `total_cell_count` and `groups`, a list of
    {modality, dataset, rows, value_sum}. Returns the mismatches found."""
    bad = []
    if observed.get("rows") != expected["rows"]:
        bad.append(f"product rows {observed.get('rows')} != {expected['rows']}")
    if observed.get("total_cell_count") != expected["total_cell_count"]:
        bad.append(f"total_cell_count {observed.get('total_cell_count')} != "
                   f"{expected['total_cell_count']}")
    want = {(g["modality"], g["dataset"]): g for g in expected["groups"]}
    got = {(g["modality"], g["dataset"]): g for g in observed.get("groups", [])}
    for key in sorted(set(want) | set(got)):
        w, g = want.get(key), got.get(key)
        if w is None or g is None:
            bad.append(f"group {key} {'unexpected' if w is None else 'missing'}")
        elif g["rows"] != w["rows"] or float(g["value_sum"]) != float(w["value_sum"]):
            bad.append(f"group {key}: rows {g['rows']} sum {g['value_sum']} != "
                       f"rows {w['rows']} sum {w['value_sum']}")
    return bad
