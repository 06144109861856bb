"""The extraction UDF's bounded map-side state (functions/extract_udf.py):
the per-partition combine dict flushes early past ``_COMBINE_FLUSH`` keys and
the classify memo clears past ``_MEMO_MAX`` entries. Both bounds only trade
memory for output rows — once rows are combined per (run_id, url_key), as the
downstream window does, the output must equal the unbounded run's."""

import pyarrow as pa

from crawley_spark.config import CrawlConfig
from crawley_spark.functions import extract_udf
from crawley_spark.kernels import robotsx

from .test_engine_parity import synth_site


def _batches(pages, run_ids, rows_per_batch=5):
    urls = sorted(pages)
    n = len(urls)
    table = pa.table(
        {
            "run_id": pa.array([r for r in run_ids for _ in urls]),
            "rank": pa.array([i for _ in run_ids for i in range(n)], type=pa.int64()),
            "url": pa.array(urls * len(run_ids)),
            "html": pa.array([pages[u].body.encode() for u in urls] * len(run_ids), type=pa.binary()),
            "content_type": pa.array([pages[u].content_type for u in urls] * len(run_ids)),
        }
    )
    return table.to_batches(max_chunksize=rows_per_batch)


def _run(fn, batches) -> list:
    return [row for b in fn(iter(batches)) for row in b.to_pylist()]


def _combined(rows) -> dict:
    """(run_id, url_key) → (first row by (parent_rank, ord) minus the
    partition bookkeeping, summed dup_count)."""
    out: dict = {}
    for r in rows:
        key = (r["run_id"], r["url_key"])
        kept = {k: v for k, v in r.items() if k not in ("src_pid", "dup_count")}
        prev = out.get(key)
        if prev is None:
            out[key] = (kept, r["dup_count"])
        else:
            first = min(prev[0], kept, key=lambda x: (x["parent_rank"], x["ord"]))
            out[key] = (first, prev[1] + r["dup_count"])
    return out


def test_flush_and_memo_eviction_match_default(monkeypatch):
    pages = synth_site()
    cfgs = {
        "run0": CrawlConfig(depth=-1, no_head=True, scan_js=True).validated(),
        "run1": CrawlConfig(depth=-1, no_head=True).validated(),
    }
    seeds = {"run0": "http://h0.example", "run1": "http://h1.example"}
    robots = {r: robotsx.allow_all() for r in cfgs}
    batches = _batches(pages, sorted(cfgs))

    default = _run(extract_udf.build_extract_candidates(cfgs, seeds, robots), batches)
    monkeypatch.setattr(extract_udf, "_COMBINE_FLUSH", 1)
    monkeypatch.setattr(extract_udf, "_MEMO_MAX", 1)
    bounded = _run(extract_udf.build_extract_candidates(cfgs, seeds, robots), batches)

    # the bounded run really flushed: fewer keys combined per output row
    assert len(bounded) > len(default)
    assert sum(r["dup_count"] for r in bounded) == sum(r["dup_count"] for r in default)
    assert _combined(bounded) == _combined(default)
