"""Pure functions behind perfbench/run.py: pools, seeded sampling,
percentiles and span self time. Tested by perfbench/test_benchlib.py."""
import math
import os
import random
import statistics

FACT_TABLES = frozenset(
    ["lineitem", "orders", "customer", "part", "supplier", "nation", "region", "events"])
DERIVED = "derived"


def table_of(path, data_dir, tmp_dir):
    """Name what a scanned path is: a base table of data_dir, a derived file
    under the run's temporary dir, or some other file."""
    path, data_dir, tmp_dir = (os.path.normpath(p) for p in (path, data_dir, tmp_dir))
    if os.path.dirname(path) == data_dir and path.endswith(".parquet"):
        return os.path.basename(path)[:-len(".parquet")]
    if path.startswith(tmp_dir + os.sep):
        return DERIVED
    return "other"


def scanned_tables(entry, data_dir, tmp_dir):
    return frozenset(table_of(p, data_dir, tmp_dir) for p in entry.get("scans", ()))


def pools(classified, data_dir, tmp_dir):
    """Pool membership from the tables each query's plans scan.

    - all:  every registered query that builds without error;
    - fact: queries that scan only the star-schema tables and events.
    """
    out = {"all": [], "fact": []}
    for name in sorted(classified):
        entry = classified[name]
        if "error_class" in entry:
            continue
        tables = scanned_tables(entry, data_dir, tmp_dir)
        out["all"].append(name)
        if tables and tables <= FACT_TABLES:
            out["fact"].append(name)
    return out


def ranked(pool, cost):
    """pool sorted by reference cost; unknown costs sort as the pool median."""
    known = sorted(cost[q] for q in pool if q in cost)
    mid = known[len(known) // 2] if known else 0.0
    return sorted(pool, key=lambda q: (cost.get(q, mid), q))


def core(pool, n, cost):
    """The n queries a workload times in every run: the middle rank of each
    of n cost strata that partition the ranked pool. Fixed by the pool and
    its reference costs, the same for every seed, so the seed cannot move
    the timed medians by changing which queries are timed."""
    r = ranked(pool, cost)
    if n >= len(r):
        return r
    return [r[(lo + hi) // 2] for lo, hi in strata(len(r), n)]


def stratified_sample(pool, n, seed, cost):
    """n queries from pool, one drawn with random.Random(seed) from each of n
    cost strata that partition the ranked pool, so every query of the pool
    can be drawn and every seed's sample spreads over the same costs."""
    r = ranked(pool, cost)
    if n >= len(r):
        return r
    rng = random.Random(seed)
    return [r[lo + rng.randrange(hi - lo)] for lo, hi in strata(len(r), n)]


def draw(pool, cost, n_core, n_extra, seed):
    """A run's queries: (core, extra, order).

    core: the timed queries (`core`); extra: n_extra queries the seed draws
    from the rest of the pool (`stratified_sample`), whose outputs are
    checked too; order: core and extra shuffled by the seed, the execution
    order. The same seed gives the same draw and order."""
    timed = core(pool, n_core, cost)
    rest = sorted(set(pool) - set(timed))
    extra = stratified_sample(rest, n_extra, seed, cost)
    order = sorted(timed + extra)
    random.Random(f"order-{seed}").shuffle(order)
    return timed, extra, order


def strata(size, n):
    """[lo, hi) rank ranges of n strata that partition `size` ranked items
    (n <= size)."""
    return [(i * size // n, (i + 1) * size // n) for i in range(n)]


def check_failures(sample, failed, checks, sketch, parity):
    """Failures found by the output checks, as (query, error class, error).

    sample: the queries of the run; failed: those that already failed to build
    or run; checks: {query: {"rows", "schema"}} of the outputs written;
    sketch: {query: expected schema} of the no-oracle queries, fixed when the
    pools were defined; parity: {query: None or tools/parity.py's complaint}
    for every other checked query. A query of the run that neither failed nor
    left an output counts as a failure too."""
    out = []
    for name in sample:
        c = checks.get(name)
        if name in failed:
            continue
        if c is None:
            out.append((name, "NotRun", "no output was written"))
        elif name in sketch:
            if c["rows"] <= 0 or c["schema"] != sketch[name]:
                out.append((name, "SketchCheck",
                            f"rows={c['rows']} schema={c['schema']} want {sketch[name]}"))
        elif parity.get(name):
            out.append((name, parity_class(parity[name]), parity[name]))
    return out


def parity_class(why):
    for key, cls in (("columns", "ColumnMismatch"), ("rows spark", "RowCountMismatch"),
                     ("dtype-kind", "DtypeKindMismatch"), ("rows differ", "ValueMismatch"),
                     ("oracle error", "OracleError"), ("no spark output", "MissingOutput")):
        if key in why:
            return "parity." + cls
    return "parity.Unknown"


def percentile(values, p):
    """Nearest-rank p-quantile of values and how many samples lie above it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    k = max(1, math.ceil(p * len(xs) - 1e-9))
    return xs[k - 1], len(xs) - k


def per_query_medians(samples):
    """{query: median seconds} from (query, seconds) samples."""
    by = {}
    for name, secs in samples:
        by.setdefault(name, []).append(secs)
    return {name: statistics.median(v) for name, v in by.items()}


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of every span: its duration minus the part of its interval
    that its children cover. spans: (id, parent, name, start, end) rows.
    Returns {id: self_time}."""
    children = {}
    for sid, parent, _name, s, e in spans:
        children.setdefault(parent, []).append((s, e))
    out = {}
    for sid, _parent, _name, s, e in spans:
        clipped = [(max(s, cs), min(e, ce)) for cs, ce in children.get(sid, ()) if ce > s and cs < e]
        out[sid] = (e - s) - union_length(clipped)
    return out


def self_time_by_layer(spans):
    """Sum of self time per span name; `prewarm.<build>` spans count as `prewarm`."""
    selfs = self_times(spans)
    out = {}
    for sid, _parent, name, _s, _e in spans:
        layer = name.split(".")[0]
        out[layer] = out.get(layer, 0.0) + selfs[sid]
    return out
