"""Pure parts of the benchmark: seeded plans, statistics, result checks.

Nothing here touches the program or the file system, so test_bench.py can
check all of it in milliseconds.
"""
import math
import random
import statistics

# A page read asks for as many points as the repository's one caller of
# the page walk (DashboardSpec's full-series walk) does.
PAGE_SIZE = 997
INCR_SPAN = 3000  # heights below the tip an incremental refresh may start at
PLANNED_OPS = 400  # more than any run can issue; the client stops on time
MIN_BLOCKS = 4  # serve: an untraced run reads at least this many blocks
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

# The queries panel: query -> the module that registers it. One query per
# module (its median by cost in the expected results at commit 5a6c079),
# plus d2_minhash_lsh, which is built on the same LSH-pair Memo core as
# d10_edit_verify, so a pass measures a core shared between queries.
PANEL = {
    "a5_tx_count": "operators.Aggregations",
    "a6_lag_diff": "operators.Windows",
    "d10_edit_verify": "operators.Dedup",
    "d2_minhash_lsh": "operators.Dedup",
    "f12_txid_csv": "functions.ScalarQueries",
    "f2_address_book": "functions.CryptoQueries",
    "g1_fork_walk": "plans.ForkWalk",
    "g5b_bfs_dense": "plans.PageRank",
    "j14_semi_join": "operators.RelationalCore",
    "mm4_resize_plan": "operators.Multimodal",
    "pr4_heavy_hitters": "operators.Profiling",
    "tx15_vocab_drift": "functions.TextQueries",
    "tx8_bm25": "functions.Retrieval",
    "u1_merge_upsert": "operators.JoinStrategies",
    "x9_mmr_rerank": "operators.Similarity",
}


def make_plan(workload, seed, trace=0):
    """Operation lines for the client, drawn only from `seed`.

    An operation line is `kind group traced args...`. The client runs whole
    groups, at least `min_groups` of them, and starts no new group once the
    run's time is up.

    queries: the panel in a seeded order, warmed once in set-up. A group
    is one pass over the panel, in the same order each pass, on one fresh
    source copy, so the queries of a pass share Memo cores and table scans
    as in one registry session.
    Traced runs make two passes at least and trace every other query, the
    other half in the next pass, so the tracing overhead is measured on the
    same queries in the same cache state.
    serve: the incremental-refresh start height, then blocks of one
    dashboard read and one page read in a seeded order, each page at a
    seeded cursor (a fraction the client maps onto the cached series).
    Traced runs read twice the blocks and trace every other one.
    """
    rng = random.Random(seed)
    if workload == "queries":
        order = sorted(PANEL)
        rng.shuffle(order)
        warm = [["warm", 0, 0, q] for q in order]
        runs = [["query", p, (k + p) % 2 if trace else 0, q, PANEL[q]]
                for p in range(PLANNED_OPS // len(order)) for k, q in enumerate(order)]
        return {"min_groups": 2 if trace else 1}, warm + runs
    if workload == "serve":
        keys = {"min_groups": MIN_BLOCKS * (2 if trace else 1), "incr": "%.6f" % rng.random(),
                "incr_span": INCR_SPAN, "page_size": PAGE_SIZE}
        ops = []
        for b in range(PLANNED_OPS // 2):
            t = b % 2 if trace else 0
            block = [["read", b, t, "dashboard"], ["read", b, t, "page", "%.6f" % rng.random()]]
            if rng.random() < 0.5:
                block.reverse()
            ops += block
        return keys, ops
    raise ValueError("unknown workload %r" % workload)


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    q = statistics.quantiles(xs, n=4)
    return q[0], q[1], q[2]


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with p% at or below."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def tail(xs):
    """The highest ladder percentile with at least ten samples above it.

    Returns (value, label, samples beyond). With fewer than eleven samples
    no percentile qualifies and the maximum is returned, labelled "max".
    """
    for p in TAIL_LADDER:
        v = percentile(xs, p)
        beyond = sum(1 for x in xs if x > v)
        if beyond >= 10:
            return v, "p%g" % p, beyond
    return max(xs), "max", 0


def sums_equal(a, b):
    return (int(a["rows"]) == int(b["rows"]) and str(a["sum"]) == str(b["sum"])
            and int(a["xor"]) == int(b["xor"]))


def check_op(op, expected):
    """None if every check of `op` holds, else the cause of its failure."""
    for c in op["checks"]:
        if "error" in c:
            return "%s: %s" % (c["name"], c["error"])
        want = c.get("want") or expected.get(c["name"])
        if want is None:
            return "%s: no expected result" % c["name"]
        if not sums_equal(c["got"], want):
            return "%s: result mismatch (got %s, want %s)" % (
                c["name"], _fmt(c["got"]), _fmt(want))
    return None


def _fmt(s):
    return "%s rows/%s/%s" % (s["rows"], s["sum"], s["xor"])


def account(ops, expected):
    """Split operations into passed and failed; failed ones carry a cause
    and are left out of every timing."""
    ok, failed = [], []
    for op in ops:
        cause = check_op(op, expected)
        if cause is None:
            ok.append(op)
        else:
            failed.append({"name": op["name"], "cause": cause})
    return ok, failed


def sum_of_medians(ops, key):
    """Wall time of one operation of each `key` value (a query, or a kind of
    read): per value, the median of its operations' wall times, summed."""
    by = {}
    for op in ops:
        by.setdefault(op[key], []).append(op["wall_s"])
    return sum(median(v) for v in by.values())


def paired_ratio(a_ops, b_ops):
    """Geometric mean over queries of (a time / b time). Each query runs
    once per side, in passes that start from the same cache state, and
    which side runs in the colder first pass alternates between queries,
    so the second pass's warmer JIT cancels out in the log domain."""
    a = {op["name"]: op["wall_s"] for op in a_ops}
    b = {op["name"]: op["wall_s"] for op in b_ops}
    logs = [math.log(a[n] / b[n]) for n in a if n in b]
    return math.exp(sum(logs) / len(logs))
