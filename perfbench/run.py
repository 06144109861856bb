"""Crawl benchmark: one workload per invocation, closed loop, local[4].

    python3 perfbench/run.py --workload crawl_soak --seed 1 --seconds 12 --trace 0

Run from the repository root. One process runs one crawl at a time on a
local[4] Spark session; the next crawl starts only after the previous one
returned (closed loop, one client). Every crawl's outputs are checked against
the pure-Python reference interpreter, computed outside all timed regions.

--trace 0 prints the end-to-end metrics (BENCHMARK.json ``end_to_end``);
--trace 1 interleaves untraced and traced crawls and prints the per-layer
metrics (``per_layer``), with the traced-minus-untraced wall time as
``trace.overhead_s``. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. Spans of a traced run are
written to .perfbench/trace-<workload>-<seed>.json.

Everything the run writes (Spark local dirs, crawl state, corpora, event log)
stays under .perfbench/ in the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
CORES = 4
SETUP_KEYS = ("session.start_s", "corpus.synth_s", "pages.prepare_s", "warmup_s")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


# ---------------------------------------------------------------- memory


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _children(pid: int) -> list:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(d))
    return out


class RssSampler:
    """Peak RSS of this driver process plus its JVM child, sampled while the
    timed loop runs."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._pids = [os.getpid()] + _children(os.getpid())
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(_rss_mb(p) for p in self._pids))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# --------------------------------------------------------------- session


def start_session(work: Path, trace: bool):
    from crawley_spark.session import get_spark

    extra = {
        "spark.driver.memory": "1g",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": (
            # a fixed, pre-touched heap keeps peak RSS independent of when GC resizes it
            f"-Djava.net.preferIPv4Stack=true -XX:-UsePerfData -Xms1g -XX:+AlwaysPreTouch "
            f"-Djava.io.tmpdir={work / 'tmp'} -Dderby.system.home={work}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        (work / "eventlog").mkdir()
        extra["spark.eventLog.enabled"] = "true"
        extra["spark.eventLog.dir"] = (work / "eventlog").as_uri()
        extra["spark.eventLog.rolling.enabled"] = "false"  # one plain JSON-lines file
        extra["spark.eventLog.compress"] = "false"
    spark = get_spark("crawley-perfbench", cores=CORES, shuffle_partitions=CORES, extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def synth(spark, path: Path, w, seed: int) -> float:
    """Write the workload's synth_corpus to parquet; returns seconds taken."""
    from crawley_spark.corpus import synth_corpus

    t0 = time.monotonic()
    df = synth_corpus(spark, n_pages=w.n_pages, n_hosts=20, links_per_page=w.links_per_page, seed=seed)
    df.write.mode("overwrite").parquet(str(path))
    return time.monotonic() - t0


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


# ------------------------------------------------------------ one crawl


class Bench:
    def __init__(self, root: Path, w, seed: int, seconds: float, trace: bool):
        import tracing

        self.root, self.w, self.seed, self.seconds, self.trace = root, w, seed, seconds, trace
        self.out_dir = root / ".perfbench"
        self.work = self.out_dir / "work"
        self.tracer = tracing.Tracer() if trace else None
        self.spark = None
        self.setup: dict = {}
        self.samples: list = []  # one dict per loop repetition
        self.guard: dict | None = None
        self.windows: list = []  # epoch (start, end) of traced crawls

    def crawl_rep(self, corpus: Path, traced: bool, want=None) -> dict:
        """One closed-loop repetition: prepare the corpus (a setup sample),
        crawl it (the timed region), then check outputs against ``want``."""
        import crawley_spark.engine as engine
        import tracing
        import workloads
        from crawley_spark.sources.pages import prepare_pages

        w = self.w
        ckpt = self.work / "state"
        t0 = time.monotonic()
        pages = prepare_pages(self.spark.read.parquet(str(corpus)))
        pages.count()
        prep_s = time.monotonic() - t0
        args = (self.spark, pages, workloads.SEEDS, workloads.crawl_config(w))
        kwargs = dict(w.kwargs, checkpoint_dir=str(ckpt))
        tr = self.tracer if traced else None
        root_span = None
        if tr is not None:
            tr.reset()
            tr.install(tracing.layer_targets())
        epoch0 = time.time()
        t0 = time.monotonic()
        try:
            if tr is not None:
                with tr.span("engine.crawl") as root_span:
                    report = engine.crawl(*args, **kwargs)
            else:
                report = engine.crawl(*args, **kwargs)
        finally:
            if tr is not None:
                tr.uninstall()
        wall = time.monotonic() - t0
        sample = {"prep_s": prep_s, "wall_s": wall, "traced": traced, "bad": []}
        try:
            if want is not None:
                sample["bad"] = workloads.check_crawl(w, report, want)
                fetched = sum(len(o.fetched) for o in want.values())
                sample["urls_per_s"] = fetched / wall
                if self.guard is None:
                    self.guard = workloads.guard_crawl(w, report, want)
                if tr is not None:
                    self.windows.append((epoch0, time.time()))
                    rows = [tuple(r) for r in report.metrics().select("iter", "metric", "key", "value").collect()]
                    sample["layers"] = tracing.crawl_layers(
                        tr, root_span, report.iterations, rows, fetched, _dir_bytes(ckpt)
                    )
        finally:
            pages.unpersist()
            shutil.rmtree(ckpt, ignore_errors=True)
        return sample

    def stream_rep(self, drop: Path, traced: bool, want=None) -> dict:
        """One streaming.run_discovery query over the drop files, from start
        to awaitTermination, checked against ``want``."""
        import crawley_spark.streaming.ingest as ingest
        import tracing
        import workloads

        w = self.w
        out = self.work / "stream"
        tr = self.tracer if traced else None
        if tr is not None:
            tr.reset()
            tr.install(tracing.layer_targets())
        t0 = time.monotonic()
        try:
            q = ingest.run_discovery(
                ingest.stream_pages(self.spark, str(drop), max_files_per_trigger=1),
                str(out),
                workloads.crawl_config(w),
                workloads.STREAM_SEED,
            )
            q.awaitTermination()
        finally:
            if tr is not None:
                tr.uninstall()
        wall = time.monotonic() - t0
        sample = {"wall_s": wall, "traced": traced, "bad": [], "stream": True}
        try:
            disc = [
                (r["url_key"], r["batch_id"])
                for r in self.spark.read.parquet(str(out / "discovered")).select("url_key", "batch_id").collect()
            ]
            sample["bad"] = workloads.check_stream(disc, want)
            workloads.guard_stream(w, len({b for _, b in disc}))
            if tr is not None:
                layers = tracing.stream_layers(tr, [json.loads(p.json) for p in q.recentProgress])
                layers["streaming.pages_per_s"] = w.n_pages / wall
                sample["layers"] = layers
        finally:
            shutil.rmtree(out, ignore_errors=True)
        return sample

    def run(self) -> None:
        import workloads

        w = self.w
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("spark-local", "tmp"):
            (self.work / d).mkdir(parents=True)
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "spark-local")
        os.environ["TMPDIR"] = str(self.work / "tmp")
        tempfile.tempdir = None

        t0 = time.monotonic()
        self.spark = start_session(self.work, self.trace)
        self.setup["session.start_s"] = time.monotonic() - t0

        corpus = self.work / "corpus"
        self.setup["corpus.synth_s"] = synth(self.spark, corpus, w, self.seed)

        # warm-up: one whole untimed crawl of the same corpus. In a fresh JVM
        # the first crawl is by far the slowest (its plans are compiled and
        # JIT-ed for the first time); later crawls still speed up, by less.
        t0 = time.monotonic()
        self.crawl_rep(corpus, traced=False)
        self.setup["warmup_s"] = time.monotonic() - t0

        # the oracle runs outside setup_s and every timed region
        pages = workloads.load_pages(str(corpus))
        want = workloads.oracle(w, pages)

        loop0 = time.monotonic()
        # traced runs interleave U T U, so a warm-up trend cancels out of
        # trace.overhead_s
        min_reps = 3 if self.trace else 1
        sampler = RssSampler()
        with sampler:
            while True:
                r0 = time.monotonic()
                traced = self.trace and len(self.samples) == 1
                self.samples.append(self._guarded(self.crawl_rep, corpus, traced=traced, want=want))
                last = time.monotonic() - r0
                elapsed = time.monotonic() - loop0
                if len(self.samples) >= min_reps and elapsed + last > self.seconds:
                    break
        self.peak_rss_mb = sampler.peak
        preps = [s["prep_s"] for s in self.samples if s.get("prep_s") is not None]
        self.setup["pages.prepare_s"] = statistics.median(preps) if preps else 0.0
        if self.trace:
            self.extract = extract_rates(self.spark, w, corpus)
            if w.stream_batches:
                drop = self.work / "drop"
                # the same pages, one drop file (one micro-batch) per partition
                self.spark.read.parquet(str(corpus)).repartition(w.stream_batches, "url").write.parquet(str(drop))
                want_keys = workloads.stream_oracle(w, pages)
                for traced in (False, True):  # the first query warms the streaming path
                    self.samples.append(self._guarded(self.stream_rep, drop, traced=traced, want=want_keys))
        for s in self.samples:
            for bad in s["bad"]:
                print(f"output check failed: {bad}", file=sys.stderr)

    @staticmethod
    def _guarded(rep, *args, **kwargs) -> dict:
        """A repetition that raises counts as failed; guard failures abort."""
        import workloads

        try:
            return rep(*args, **kwargs)
        except workloads.GuardError:
            raise
        except Exception:
            traceback.print_exc()
            return {"failed": True, "traced": kwargs.get("traced"), "bad": ["raised"], "wall_s": None}

    def close(self):
        if self.spark is not None:
            stop_session(self.spark)
            self.spark = None


def extract_rates(spark, w, corpus: Path) -> dict:
    """The extraction UDF's function standalone on this workload's corpus:
    in-process on Arrow batches (kernel), and inside Spark's Arrow boundary
    via mapInArrow to a noop sink (4 tasks). Medians of three passes each."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    import workloads
    from crawley_spark.functions.extract_udf import CANDIDATES_SCHEMA, build_extract_candidates
    from crawley_spark.kernels import robotsx

    cfg = workloads.crawl_config(w).validated()
    (run_id, seed), = workloads.SEEDS.items()
    fn = build_extract_candidates({run_id: cfg}, {run_id: seed}, {run_id: robotsx.allow_all()})
    t = pq.read_table(str(corpus), columns=["url", "html"])
    n = t.num_rows
    table = pa.table(
        {
            "run_id": pa.array([run_id] * n),
            "rank": pa.array(range(n), type=pa.int64()),
            "url": t.column("url"),
            "html": t.column("html"),
            "content_type": pa.nulls(n, type=pa.string()),
        }
    )
    kernel, cands = [], 0
    for _ in range(3):
        t0 = time.monotonic()
        out = list(fn(iter(table.to_batches(max_chunksize=10_000))))
        kernel.append(time.monotonic() - t0)
        cands = sum(pc.sum(b.column("dup_count")).as_py() or 0 for b in out)
    df = (
        spark.read.parquet(str(corpus))
        .select(
            F.lit(run_id).alias("run_id"),
            F.xxhash64("url").alias("rank"),
            "url",
            F.col("html").cast("binary").alias("html"),
            F.lit(None).cast("string").alias("content_type"),
        )
        .persist()
    )
    df.count()
    in_spark = []
    for _ in range(3):
        t0 = time.monotonic()
        df.mapInArrow(fn, CANDIDATES_SCHEMA).write.format("noop").mode("overwrite").save()
        in_spark.append(time.monotonic() - t0)
    df.unpersist()
    k, s = n / statistics.median(kernel), n / statistics.median(in_spark)
    return {
        "extract.kernel_pages_per_s": k,
        "extract.spark_pages_per_s": s,
        "extract.spark_over_kernel": s / k,
        "extract.candidates_per_page": cands / n,
    }


# ---------------------------------------------------------------- report


def _median_or_none(values):
    values = [v for v in values if v is not None]
    return statistics.median(values) if values else None


def end_to_end(b: Bench) -> dict:
    ok = [s for s in b.samples if not s.get("failed")]
    walls = [s["wall_s"] for s in ok] or [0.0]
    rates = [s["urls_per_s"] for s in ok] or [0.0]
    return {
        "setup_s": (sum(b.setup[k] for k in SETUP_KEYS), "s"),
        "crawl_wall_s": (statistics.median(walls), "s"),
        "urls_per_s": (statistics.median(rates), "1/s"),
        "peak_rss_mb": (b.peak_rss_mb, "MB"),
    }


def per_layer(b: Bench, spec: list) -> dict:
    """Median over traced repetitions of each layer figure (None = the layer
    did not run in this workload)."""
    import tracing

    layers: dict = {}
    for s in b.samples:
        for k, v in s.get("layers", {}).items():
            layers.setdefault(k, []).append(v)
    out = {k: _median_or_none(v) for k, v in layers.items()}
    out.update({k: b.setup[k] for k in SETUP_KEYS if k != "warmup_s"})
    out.update(b.extract)
    (log,) = (b.work / "eventlog").iterdir()
    out.update(tracing.spark_from_event_log(str(log), b.windows, out.get("engine.iterations")))
    crawls = [s for s in b.samples if not s.get("stream") and s.get("wall_s")]
    traced = [s["wall_s"] for s in crawls if s["traced"]]
    untraced = [s["wall_s"] for s in crawls if not s["traced"]]
    if traced and untraced:
        out["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
    return {m["name"]: (out.get(m["name"]), m["unit"]) for m in spec}


def main(argv=None) -> int:
    args = parse_args(argv)
    root = Path.cwd()
    if not (root / "crawley_spark" / "engine.py").is_file():
        print("perfbench: run from the repository root (crawley_spark/ not found)", file=sys.stderr)
        return 2
    spec = json.loads((root / "BENCHMARK.json").read_text())
    sys.path[:0] = [str(root), str(HERE)]
    # Python workers import crawley_spark inside mapInPandas / mapInArrow
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(root), str(HERE)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    import workloads

    w = workloads.WORKLOADS.get(args.workload)
    if w is None:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    b = Bench(root, w, args.seed, args.seconds, bool(args.trace))
    try:
        b.run()
    except workloads.GuardError as e:
        print(f"perfbench: workload guard failed: {e}", file=sys.stderr)
        return 3
    finally:
        b.close()

    attempted = len(b.samples)
    failed = sum(1 for s in b.samples if s.get("failed") or s["bad"])
    if args.trace:
        metrics = per_layer(b, spec["per_layer"])
        b.tracer.dump(
            str(b.out_dir / f"trace-{w.name}-{args.seed}.json"),
            {"workload": w.name, "seed": args.seed, "metrics": {k: v for k, (v, _) in metrics.items()}},
        )
    else:
        metrics = end_to_end(b)
    print(f"workload {w.name} seed {args.seed}: {attempted} runs, guard {json.dumps(b.guard)}")
    print(f"  failed_share: {failed / attempted:.4f} (failed {failed} of {attempted})")
    print("  setup: " + ", ".join(f"{k} {v:.3f} s" for k, v in b.setup.items()))
    n_timed = sum(1 for s in b.samples if not s.get("failed"))
    for name, (value, unit) in metrics.items():
        shown = "null (inactive)" if value is None else f"{value:.6g}"
        print(f"  {name}: {shown} {unit}")
    walls = " ".join(f"{s['wall_s']:.3f}{'t' if s['traced'] else ''}" for s in b.samples if s.get("wall_s"))
    print(f"  wall samples (s, t = traced): {walls}")
    if not args.trace:
        print(f"  (timings: median of n={n_timed} crawls; setup_s = session + corpus synth + warm-up + median prepare)")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        # inactive layers are null above; the result line carries numbers only
        "metrics": {k: {"value": 0 if v is None else v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
