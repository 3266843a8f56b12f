"""Per-host politeness budget — the token bucket as a DataFrame expression.

Reference semantics (SURVEY.md T3): DOWNLOAD_DELAY / CONCURRENT_REQUESTS_PER_
DOMAIN (`SP/settings.py:126-135`) bound how many requests one host absorbs per
unit time.  The deterministic skeleton models this as *at most B pending
requests per host per frontier round, chosen in FIFO (seq) order*; requests
over budget keep their seq and compete again next round.

Skew: host popularity is Zipf-like (the corpus has a mega-host holding ~1/3 of
all URLs).  A naive ``row_number() over (partition by host order by seq)``
sends every pending row of the mega-host through one shuffle partition — at
10^10-frontier scale that task is the job.  So selection is **two-phase
salted** (SURVEY.md §4 skew row):

  phase 1: rank within (host, salt) where salt = pmod(xxhash64(url), S);
           keep rank <= B   → at most S*B survivors per host
  phase 2: exact rank within host over survivors; keep rank <= B

Phase 1 bounds any single partition's key group to ~1/S of a host's rows;
phase 2 operates on <= S*B rows per host, which is small by construction.
Correctness: every row in the true per-host top-B by seq has fewer than B
predecessors globally, hence fewer than B within its salt bucket, so it
survives phase 1 — the two-phase result equals the single-window result
exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_SALT_BUCKETS = 16
# below this (upper-bound) frontier size, callers run the per-host window
# in ONE phase (``two_phase=False``) — identical result, one less shuffle;
# above it the two-phase salted form bounds the mega-host's group
SALT_MIN_ROWS = 131072


def select_eligible(
    pending: DataFrame,
    default_budget: int,
    budgets: DataFrame | None = None,
    salt_buckets: int = DEFAULT_SALT_BUCKETS,
    two_phase: bool = True,
) -> DataFrame:
    """Tag each pending frontier row with ``is_eligible`` for this round.

    ``pending`` needs columns (seq long, url string, host string).
    ``budgets``: optional small DF (host string, max_per_round int) —
    broadcast-joined; hosts absent fall back to ``default_budget``.

    ``two_phase=False`` skips the salt phase and ranks each host in ONE
    window — the identical result (both compute the exact per-host top-B)
    minus one shuffle.  Callers flip it off when the pending frontier is
    small enough that even the mega-host's group fits one task comfortably
    (the engine gates on its running frontier-size upper bound).
    """
    df = pending
    if budgets is not None:
        df = df.join(F.broadcast(budgets), "host", "left")
        budget_col = F.coalesce(F.col("max_per_round"), F.lit(default_budget))
    else:
        budget_col = F.lit(default_budget)
    df = df.withColumn("_budget", budget_col)
    if budgets is not None:
        df = df.drop("max_per_round")

    # per-host pick order: (priority DESC, seq) when the frontier carries a
    # priority column (north-rule priority queue; NULL → 0), else pure FIFO.
    # All-equal priorities reduce exactly to the reference's FIFO contract.
    if "priority" in pending.columns:
        order = [F.coalesce(F.col("priority"), F.lit(0)).desc(), F.col("seq")]
    else:
        order = [F.col("seq")]
    out_cols = pending.columns + ["is_eligible"]
    if not two_phase:
        w = Window.partitionBy("host").orderBy(*order)
        return (
            df.withColumn("_r", F.row_number().over(w))
            .withColumn("is_eligible", F.col("_r") <= F.col("_budget"))
            .select(*out_cols)
        )
    salted = df.withColumn("_salt", F.pmod(F.xxhash64("url"), F.lit(salt_buckets)))
    w1 = Window.partitionBy("host", "_salt").orderBy(*order)
    phase1 = salted.withColumn("_r1", F.row_number().over(w1))
    survivors = phase1.where(F.col("_r1") <= F.col("_budget"))
    losers = phase1.where(F.col("_r1") > F.col("_budget")).withColumn(
        "is_eligible", F.lit(False)
    )

    w2 = Window.partitionBy("host").orderBy(*order)
    phase2 = survivors.withColumn("_r2", F.row_number().over(w2)).withColumn(
        "is_eligible", F.col("_r2") <= F.col("_budget")
    )

    return phase2.select(*out_cols).unionByName(losers.select(*out_cols))
