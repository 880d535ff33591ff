"""Seeded inputs and the statistics the launcher reports.

Pure Python with no third-party imports, so the self-tests run without
a JVM: `python3 -m unittest discover -s wfbench -p 'test_*.py'`.
"""
import math
import random
import statistics

# Fixed work per workload. The launcher passes these to the JVM inside
# the generated input file; nothing else reaches the program.
SPARSE_RUNS = 4              # chain_sparse: runs in flight
DENSE_RUNS = 400             # chain_dense: runs in flight
DENSE_WARM_RUNS = 50
WARM_TASKS = 25              # tasks per warm-up run: batches before timing
SERVE_PRELOAD = 1000         # completed runs the serving store starts with
SERVE_EMAILS = 100           # distinct customerEmail values among them
SERVE_READERS = 2            # closed-loop reader threads
SERVE_REQUESTS_PER_READER = 400
SERVE_ALIAS_SHARE = 0.1      # share of requests that search by alias
SERVE_MIN_GETS = 40          # p75 needs 10 samples beyond it
SERVE_COMPACT_EVERY = 5      # batches between compactions
SERVE_WARM_BATCHES = 5
SERVE_WARM_GETS = 10
SERVE_WARM_ALIASES = 2
MAX_BURSTS = 8               # run ids handed out per chain slot
# chain_sparse's runs are regrouped so each burst covers distinct state
# partitions; a group of 4 takes about 8 random ids
SPREAD_CANDIDATES = 4

# A tail percentile is reported only with at least this many samples
# beyond it.
MIN_BEYOND = 10

# The sample set each workload's latency metrics read. chain workloads
# sample once per micro-batch (all tasks of a batch share its time): a
# burst gives 49 samples, enough for p75 but not p90.
LATENCY_SAMPLES = {
    "chain_sparse": "task_rtt_ms",
    "chain_dense": "task_rtt_ms",
    "serve_mixed": "get_wfrun_ms",
}
TAIL_PERCENTILE = 75
WORKLOADS = tuple(LATENCY_SAMPLES)


class TooFewSamples(ValueError):
    pass


def run_ids(rng, prefix, n):
    """`n` distinct run ids."""
    ids, seen = [], set()
    while len(ids) < n:
        i = f"{prefix}-{rng.getrandbits(48):012x}"
        if i not in seen:
            seen.add(i)
            ids.append(i)
    return ids


def make_inputs(workload, seed, seconds):
    """Everything the program receives for one run; a function of its
    arguments only."""
    rng = random.Random(f"{workload}/{seed}")
    if workload == "chain_sparse":
        return {"runs": SPARSE_RUNS, "warm_runs": SPARSE_RUNS,
                "warm_tasks": WARM_TASKS,
                "run_ids": run_ids(rng, "sparse", SPARSE_RUNS * (
                    1 + MAX_BURSTS * SPREAD_CANDIDATES))}
    if workload == "chain_dense":
        return {"runs": DENSE_RUNS, "warm_runs": DENSE_WARM_RUNS,
                "warm_tasks": WARM_TASKS,
                "run_ids": run_ids(rng, "dense",
                                   DENSE_WARM_RUNS + DENSE_RUNS * 2)}
    if workload == "serve_mixed":
        return serve_inputs(rng, seconds)
    raise ValueError(f"unknown workload {workload}")


def serve_inputs(rng, seconds):
    emails = sorted({f"customer{rng.getrandbits(32):08x}@example.com"
                     for _ in range(SERVE_EMAILS)})
    ids = run_ids(rng, "cust", SERVE_PRELOAD)
    # every email owns at least one run; the rest are drawn at random
    preload = [[i, emails[k] if k < len(emails) else rng.choice(emails)]
               for k, i in enumerate(ids)]

    def request():
        if rng.random() < SERVE_ALIAS_SHARE:
            return ["alias", rng.choice(emails)]
        return ["get", rng.choice(ids)]

    readers = [[request() for _ in range(SERVE_REQUESTS_PER_READER)]
               for _ in range(SERVE_READERS)]
    warm = ([["get", rng.choice(ids)] for _ in range(SERVE_WARM_GETS)] +
            [["alias", rng.choice(emails)]
             for _ in range(SERVE_WARM_ALIASES)])
    return {"preload": preload, "readers": readers, "warm": warm,
            "min_gets": SERVE_MIN_GETS,
            "compact_every": SERVE_COMPACT_EVERY,
            "slots": SPARSE_RUNS, "warm_batches": SERVE_WARM_BATCHES,
            "run_ids": run_ids(rng, "write",
                               SPARSE_RUNS * MAX_BURSTS * SPREAD_CANDIDATES)}


def percentile(values, p):
    """Linear-interpolated p-th percentile; refuses a tail that has
    fewer than MIN_BEYOND samples beyond it."""
    xs = sorted(values)
    beyond = len(xs) * (100 - p) / 100.0
    if not xs or beyond < MIN_BEYOND:
        raise TooFewSamples(
            f"p{p} of {len(xs)} samples has {beyond:g} beyond it, "
            f"needs {MIN_BEYOND}")
    rank = (len(xs) - 1) * p / 100.0
    lo = math.floor(rank)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def spread(values):
    """(median, first quartile, third quartile, IQR / median)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")
