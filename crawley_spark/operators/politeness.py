"""Host-salted politeness scheduler (Q2).

The reference sleeps ``cfg.Delay`` before every fetch in each worker
(crawler.go:368-370) with MaxConnsPerHost = workers (client/http.go:31) —
wall-clock rate shaping. In iterative batch mode the equivalent budget is a
per-(run, host) fetch quota per iteration: ``quota = budget_ms / delay_ms``.
Rows beyond the quota spill back into the frontier for the next iteration.

Semantics: deferral never changes the final URL-seen set or per-URL results
(enqueue/emit decisions are order-independent given the dedup key — SURVEY.md
§2.6 Q2); it can permute emission *seq* relative to the canonical reference
order, so parity runs use an unlimited budget (no deferral).

Skew handling: the slot window partitions by (run, host); assignment is
rank-stable. Driver-local waves (operators/local_wave.py) split the same
way with :func:`schedule_rows`, the pure-Python twin over frontier tuples.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def schedule(
    frontier: DataFrame, quotas: dict, salt_buckets: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """Split the frontier into (now, deferred) by per-run host quotas.

    quotas: run_id → max fetches per host per iteration (None = unlimited).

    ``salt_buckets`` (the engine passes it only on waves too big for the
    broadcast fetch join): a mega-host would put its whole row
    set through one slot-window task, so a per-(run, host, url-salt)
    pre-cap first bounds any single task's sort and cuts the host to
    ≤ quota·salt_buckets survivors. The split is EXACTLY the unsalted
    one: a row dropped at stage 1 has bucket-rank > quota ⇒ true slot >
    quota (definitely deferred), and every true top-quota row survives
    its own bucket's top-quota, so stage 2's slots for kept rows equal
    the unsalted slots (salted ≡ unsalted pinned in tests)."""
    if not any(q is not None for q in quotas.values()):
        return frontier, frontier.limit(0)
    from ..plans.ordering import sql_long_map

    qmap = sql_long_map(
        {run: int(q) if q is not None else 2**62 for run, q in quotas.items()}
    )
    qexpr = F.element_at(qmap, F.col("run_id"))
    base = frontier
    pre_deferred = None
    if salt_buckets and salt_buckets > 1:
        w1 = Window.partitionBy(
            "run_id",
            "host",
            F.pmod(F.xxhash64(F.col("url")), F.lit(salt_buckets)),
        ).orderBy("rank")
        s1 = frontier.withColumn("_s1", F.row_number().over(w1))
        pre_deferred = s1.filter(F.col("_s1") > qexpr).drop("_s1")
        base = s1.filter(F.col("_s1") <= qexpr).drop("_s1")
    w = Window.partitionBy("run_id", "host").orderBy("rank")
    slotted = base.withColumn("_slot", F.row_number().over(w))
    cond = F.col("_slot") <= qexpr
    now = slotted.filter(cond).drop("_slot")
    deferred = slotted.filter(~cond).drop("_slot")
    if pre_deferred is not None:
        deferred = deferred.unionByName(pre_deferred)
    return now, deferred


def schedule_rows(rows: list, quotas: dict) -> tuple[list, list]:
    """Driver twin of :func:`schedule` over frontier tuples
    ``(run_id, rank, url, host, can_fetch)``: per (run, host) the first
    ``quota`` rows by rank go into ``now``, the rest are deferred (a None
    quota is unlimited). With no quotas the frontier comes back unchanged.
    Same split as the Spark window (pinned in tests), so a driver-local
    wave fetches exactly the rows a Spark wave would."""
    if not any(q is not None for q in quotas.values()):
        return rows, []
    slots: dict = {}
    now, deferred = [], []
    for r in sorted(rows, key=lambda r: r[1]):
        q = quotas[r[0]]
        key = (r[0], r[3])
        slots[key] = slot = slots.get(key, 0) + 1
        (now if q is None or slot <= q else deferred).append(r)
    return now, deferred


def crawl_delays(
    robots: DataFrame,
    ua: str,
    host_col: str = "host",
    body_col: str = "robots_body",
    default_delay_ms: int = 0,
) -> DataFrame:
    """Per-host Crawl-delay directives from robots.txt bodies:
    (host, crawl_delay_ms nullable, has_delay, effective_delay_ms).

    Runs the REAL robots token parser per row
    (kernels.robotsx.crawl_delay_ms — the reference's line discipline and
    bug-compatible UA-substring group matching, extended with the
    de-facto 'crawl-delay' key the reference drops). The scheduler input
    is ``effective_delay_ms = greatest(default, directive)`` — the
    published be-no-faster-than-asked rule; hosts without a valid
    directive fall back to the configured default. Feeds
    :func:`schedule`'s per-host quota the same way rank/trap signals feed
    the frontier cut (quota = budget_ms div effective_delay_ms).

    Scale shape (100 TB): one Arrow-batched pass over a two-column
    pruned scan, ZERO shuffle — robots bodies are one row per host (the
    crawl fetches robots once per host), so this table is already tiny
    next to the corpus and no shuffle is introduced here."""
    import pandas as pd

    from ..kernels.robotsx import crawl_delay_ms as _kernel

    schema = f"{host_col} string, crawl_delay_ms long"

    def run(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    host_col: pdf[host_col],
                    "crawl_delay_ms": pd.array(
                        [
                            _kernel(ua, b if b is not None else "")
                            for b in pdf[body_col]
                        ],
                        dtype="Int64",
                    ),
                }
            )

    out = robots.select(host_col, body_col).mapInPandas(run, schema)
    return out.select(
        host_col,
        "crawl_delay_ms",
        F.col("crawl_delay_ms").isNotNull().alias("has_delay"),
        F.greatest(
            F.lit(int(default_delay_ms)),
            F.coalesce(F.col("crawl_delay_ms"), F.lit(0)),
        )
        .cast("long")
        .alias("effective_delay_ms"),
    )
