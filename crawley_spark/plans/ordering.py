"""Deterministic global sequence assignment.

The engine's crawl-order parity (SURVEY.md §3.4) hinges on materializing an
explicit per-run FIFO index — never on partition order. A naive
``row_number() OVER (ORDER BY ...)`` funnels the whole dataset through one
partition; ``assign_flagged_indexes_bucketed`` instead:

1. buckets rows arithmetically on the driver-known per-run span of the
   leading order key (monotone, so ascending bucket == ascending order),
2. computes in-bucket running counts with one window shuffle on
   (run, bucket),
3. counts rows per (run, bucket) — one light job over the checkpointed
   result — and cumulative-sums the counts on the driver (#buckets entries),
4. adds the per-bucket offsets to the running counts in a projection.

This keeps the work fully parallel and the driver state at O(#buckets),
which survives a 1000-executor 10^10-row frontier; the reference's pending
counter (crawler.go:119-135) has no distributed equivalent, this replaces it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sql_str(s: str) -> str:
    """SQL string literal (single-quoted, backslash + quote escaped)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_long_map(d: dict) -> "F.Column":
    """{str: int} → map<string,bigint> as ONE parsed SQL expression.

    Driver-overhead kernel: building the same map with
    ``F.create_map(*[F.lit(k), F.lit(v), ...])`` costs 2 py4j round-trips
    per entry (~1 ms each); at the engine's per-iteration offset maps
    (hundreds of entries rebuilt every iteration) that py4j chatter was a
    measured ~0.5 s/iteration of the crawl's serial floor. One ``F.expr``
    string costs one round-trip and parses JVM-side in microseconds.
    """
    items = ", ".join(f"{sql_str(k)}, {int(v)}L" for k, v in d.items())
    return F.expr(f"map({items})") if items else F.expr("map()")


def sql_long_array_map(d: dict) -> "F.Column":
    """{str: [int, ...]} → map<string,array<bigint>> as one SQL expression
    (see :func:`sql_long_map` for why)."""
    items = ", ".join(
        f"{sql_str(k)}, array({','.join(f'{int(v)}L' for v in arr)})"
        for k, arr in d.items()
    )
    return F.expr(f"map({items})")


def advance_offsets(offsets: dict, run_counts: dict) -> dict:
    """Advance per-run offsets by one flag's per-run counts returned from
    :func:`assign_flagged_indexes_bucketed`."""
    out = dict(offsets)
    for run, cnt in run_counts.items():
        out[run] = out.get(run, 0) + cnt
    return out


def assign_flagged_indexes_bucketed(
    df: DataFrame,
    order_cols: list,
    flags: list,
    offsets_by_flag: dict,
    spans: dict,
    num_buckets: int,
    run_col: str = "run_id",
):
    """One pass assigning several per-run dense indexes at once: for each
    boolean column ``flag`` in ``flags``, rows where the flag holds get
    ``idx_<flag>`` = offsets_by_flag[flag][run] + (0-based position among
    flagged rows in canonical ``order_cols`` order). Null elsewhere.

    The caller must know the value range of ``order_cols[0]`` per run (the
    engine knows the frontier's rank span exactly — ranks are dense indexes
    it assigned itself the previous iteration). ``repartitionByRange`` would
    need a *sampling pass* to find range boundaries — it executes the whole
    upstream plan once for the sample and again for the real shuffle. Here
    the range boundaries are computed arithmetically:
    ``bucket = floor((rank - lo) * B / (hi - lo))``, monotone in rank, so
    ascending bucket == ascending canonical order and the per-(run, bucket)
    counts cumulative-sum into global offsets exactly as range partitions
    would. The plan becomes: one window shuffle on (run, bucket) computing the
    in-bucket running sums, a lazy localCheckpoint, one light counts job, and
    a pure projection adding the offsets — no sampling, no user repartition
    (so AQE remains free to coalesce tiny waves).

    spans: {run_id: (lo, hi)} — half-open bound on order_cols[0] per run.
    Returns (indexed_df, {flag: {run: count}}, total_rows) — total_rows is
    the exact row count of ``df``, free from the counts job (the engine uses
    it to advance its seen-size estimate without waiting on async metrics).
    """
    if not spans:
        empty = {fl: {} for fl in flags}
        out = df
        for fl in flags:
            out = out.withColumn(f"idx_{fl}", F.lit(None).cast("long"))
        return out.localCheckpoint(eager=False), empty, 0
    lo_map = sql_long_map({run: int(lo) for run, (lo, hi) in spans.items()})
    w_map = sql_long_map(
        {run: max(1, int(hi) - int(lo)) for run, (lo, hi) in spans.items()}
    )
    okey = F.col(order_cols[0]).cast("long")
    bucket = F.least(
        F.lit(num_buckets - 1),
        F.greatest(
            F.lit(0),
            F.floor(
                (okey - F.element_at(lo_map, F.col(run_col)))
                * num_buckets
                / F.element_at(w_map, F.col(run_col))
            ),
        ),
    ).cast("int")
    w = (
        Window.partitionBy(run_col, "_bkt")
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = df.withColumn("_bkt", bucket)
    for fl in flags:
        out = out.withColumn(
            f"_rs_{fl}", F.sum(F.when(F.col(fl), 1).otherwise(0)).over(w)
        )
    out = out.localCheckpoint(eager=False)
    counts = (
        out.groupBy(run_col, "_bkt")
        .agg(
            *[F.max(f"_rs_{fl}").alias(f"_n_{fl}") for fl in flags],
            F.count("*").alias("_rows"),
        )
        .collect()
    )
    total_rows = sum(r["_rows"] for r in counts)
    counts = sorted(counts, key=lambda r: (r[run_col], r["_bkt"]))
    # dense per-run offset arrays indexed by _bkt (buckets with no rows get
    # the running offset — harmless, no row reads them), shipped as one
    # map<run, array<long>> SQL literal per flag instead of per-entry F.lit
    # py4j calls (the measured driver floor — see sql_long_array_map).
    run_counts = {fl: {} for fl in flags}
    offset_arrays = {fl: {} for fl in flags}
    nxt = {fl: {} for fl in flags}
    by_run: dict = {}
    for row in counts:
        by_run.setdefault(row[run_col], []).append(row)
    for run, rows in by_run.items():
        pos = {r["_bkt"]: r for r in rows}
        for fl in flags:
            base = offsets_by_flag[fl].get(run, 0)
            arr = []
            for bkt in range(num_buckets):
                arr.append(base)
                if bkt in pos:
                    base += pos[bkt][f"_n_{fl}"]
            offset_arrays[fl][run] = arr
            nxt[fl][run] = base
    for fl in flags:
        run_counts[fl] = {
            run: nxt[fl][run] - offsets_by_flag[fl].get(run, 0) for run in nxt[fl]
        }
    for fl in flags:
        if not offset_arrays[fl]:
            out = out.withColumn(f"idx_{fl}", F.lit(None).cast("long")).drop(f"_rs_{fl}")
            continue
        omap = sql_long_array_map(offset_arrays[fl])
        out = out.withColumn(
            f"idx_{fl}",
            F.when(
                F.col(fl),
                (
                    F.element_at(omap, F.col(run_col))[F.col("_bkt")]
                    + F.col(f"_rs_{fl}")
                    - 1
                ).cast("long"),
            ),
        ).drop(f"_rs_{fl}")
    return out.drop("_bkt"), run_counts, total_rows

