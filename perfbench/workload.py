"""One workload run in a fresh process (and so a fresh JVM).

Started by run.py.  Sets up, runs the workload's timed calls through
the package's public entry points, checks the outputs and writes a JSON
summary: end-to-end metrics, per-layer metrics (traced pass only),
attempted/failed operation counts and the failure messages.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402
import layers  # noqa: E402
from spans import StatusStore, Tracer, install_wrappers  # noqa: E402

STATE_TABLES = ("requests", "replies", "inlinks", "url_seen", "seen_filter",
                "schedule", "ip_state")


class Run:
    """State shared by the phases of one workload run."""

    def __init__(self, spark, args, tracer: Tracer):
        self.spark, self.args, self.tracer = spark, args, tracer
        self.size = inputs.SIZES[args.workload][args.size]
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, tuple[float, str]] = {}
        self.attempted = 0
        self.errors: list[str] = []
        self.rounds: list[dict] = []   # per round: wall, metrics, synced
        self.data_dirs: dict[str, int] = {}  # append logs compaction folds
        self.workdir = os.path.join(args.run_dir, "state")
        self.first_call = 0.0  # epoch seconds of the first timed call

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.errors.append(f"{name}: {detail}")

    def op(self, name: str, fn):
        """A timed operation; returns (result, wall seconds)."""
        self.attempted += 1
        with self.tracer.span(name, phase=True) as s:
            out = fn()
        self.first_call = self.first_call or s.start
        log(f"{name} {s.end - s.start:.2f}s")
        return out, s.end - s.start

    def run_round(self, drv, r: int, frontier: int) -> dict:
        synced = drv._url_seen_synced()
        m, dt = self.op(f"run_round[{r}]", lambda: drv.run_round(r))
        self.rounds.append({"wall": dt, "m": m, "synced": synced,
                            "frontier": frontier})
        return m

    def compact(self) -> None:
        from open_source_search_engine_spark.plans.compaction import (
            compact_frontier,
        )
        _, dt = self.op("compact_frontier",
                        lambda: compact_frontier(self.spark, self.workdir))
        self.e2e["compaction_s"] = (dt, "s")


def log(msg: str) -> None:
    """Progress line in the child's log (shown by run.py on failure)."""
    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr,
          flush=True)


def clear_session(spark) -> None:
    """Drop cached plans and leftover bucketed-read catalog tables, so
    no earlier state can be served from the session."""
    spark.catalog.clearCache()
    for t in spark.catalog.listTables():
        if t.name.startswith("osse_snap_"):
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def new_driver(run: Run, paths: dict):
    """CrawlDriver over the run's state dir: hostmeta scan, robots
    parse."""
    from open_source_search_engine_spark.plans.scheduler import CrawlDriver
    return CrawlDriver(run.spark, run.workdir, paths["pages"],
                       paths["hostmeta"],
                       inputs.crawl_config(run.size["budget"]))


def data_dirs(workdir: str) -> dict[str, int]:
    """Length of the requests/replies append logs."""
    from open_source_search_engine_spark.sources.snapstore import (
        frontier_table,
    )
    return {t: len(frontier_table(workdir, t)._data_dirs())
            for t in ("requests", "replies")}


# ---- workloads ----------------------------------------------------------

def linked_crawl(run: Run):
    """seed → run_round(0) → compact_frontier on a synthweb corpus."""
    a, size = run.args, run.size
    paths = inputs.linked_corpus(a.cache_dir, a.seed, size)
    clear_session(run.spark)
    drv = new_driver(run, paths)

    n_seed, _ = run.op("seed", lambda: drv.seed(paths["seeds"]))
    run.run_round(drv, 0, n_seed)
    run.data_dirs = data_dirs(run.workdir)
    run.compact()
    run.e2e["crawl_total_s"] = (time.time() - run.first_call, "s")
    (r,) = run.rounds
    run.e2e.update({
        "cold_round_s": (r["wall"], "s"),
        "frontier_rows_per_s": (r["frontier"] / r["wall"], "rows/s"),
        "pages_fetched_per_s": (r["m"]["fetched_ok"] / r["wall"], "pages/s"),
        "new_urls_per_s": (r["m"]["new_urls"] / r["wall"], "urls/s"),
        "ingest_urls_per_s": (0.0, "urls/s"),
    })

    oracle = inputs.linked_oracle(a.cache_dir, paths, size)
    if a.tamper:
        oracle["schedule"][0][2] += "#tampered"
    got = [[x.round, x.seq, x.url] for x in
           drv.schedule_df().orderBy("round", "seq").collect()]
    run.check("schedule equals oracle", got == oracle["schedule"],
              f"{len(got)} rows vs {len(oracle['schedule'])}, "
              f"first {got[:1]} vs {oracle['schedule'][:1]}")
    seen = sorted(x.uh48 for x in drv.url_seen_df().collect())
    run.check("url_seen equals oracle", seen == oracle["url_seen"],
              f"{len(seen)} keys vs {len(oracle['url_seen'])}")
    got_m = [[r["m"][k] for k in ("round", "scheduled", "fetched_ok",
                                  "fetch_errors", "new_urls")]]
    run.check("round metrics equal oracle", got_m == oracle["metrics"],
              f"{got_m} vs {oracle['metrics']}")
    run.check("links flow: new urls in the round", r["m"]["new_urls"] > 0,
              str(r["m"]))
    run.check("url_seen synced before the round", r["synced"], "")
    return paths, drv


def ingest_compact(run: Run):
    """Load a mature frontier → run_seed_ingest → compact_frontier."""
    from pyspark.sql import functions as F

    from open_source_search_engine_spark.sources.snapstore import (
        frontier_table, url_seen_table, with_salt,
    )
    from open_source_search_engine_spark.streaming.ingest import (
        run_seed_ingest,
    )
    a, spark, size, wd = run.args, run.spark, run.size, run.workdir
    paths = inputs.frontier_paths(a.frontier_dir, a.cache_dir)
    clear_session(spark)
    requests = frontier_table(wd, "requests")
    requests.overwrite(with_salt(spark.read.parquet(paths["requests"])),
                       {"source": "perfbench"})
    frontier_table(wd, "replies").overwrite(
        with_salt(spark.read.parquet(paths["replies"])),
        {"source": "perfbench"})
    # the url_seen base a compaction leaves behind, synced to the loaded
    # requests snapshot
    url_seen_table(wd).overwrite(
        spark.read.parquet(paths["requests"]).select(
            "uh48", F.col("added_time_ms").alias("last_added_ms")),
        {"source": "perfbench",
         "synced_requests_snapshot": requests.current_snapshot()})
    spark.catalog.clearCache()

    base_snap = requests.current_snapshot()
    _, ingest_s = run.op("run_seed_ingest", lambda: run_seed_ingest(
        spark, paths["feed"], paths["hostmeta"], wd,
        os.path.join(a.run_dir, "ingest-ckpt"), once=True))
    accepted = _rows_since(spark, requests, base_snap)
    run.data_dirs = data_dirs(wd)
    run.compact()
    run.e2e["crawl_total_s"] = (time.time() - run.first_call, "s")
    run.e2e.update({
        "cold_round_s": (0.0, "s"),
        "frontier_rows_per_s": (0.0, "rows/s"),
        "pages_fetched_per_s": (0.0, "pages/s"),
        "new_urls_per_s": (0.0, "urls/s"),
        "ingest_urls_per_s": (accepted / ingest_s, "urls/s"),
    })

    want = inputs.ingest_expected(paths, size)
    if a.tamper:
        want["accepted"] += 1
    run.check("accepted feed urls are the new urls",
              accepted == want["accepted"],
              f"{accepted} vs {want['accepted']}")
    n_seen = url_seen_table(wd).read(spark).count()
    run.check("url_seen rows after compaction", n_seen == want["url_seen"],
              f"{n_seen} vs {want['url_seen']}")
    run.check("requests rows after compaction",
              requests.read(spark).count() == want["url_seen"], "")
    return paths, None


def _rows_since(spark, table, snap: int) -> int:
    """Rows in the data dirs appended after snapshot ``snap``."""
    old = set(table._data_dirs(snap))
    new = [d for d in table._data_dirs() if d not in old]
    return spark.read.parquet(*new).count() if new else 0


WORKLOADS = {"linked_crawl": linked_crawl,
             "ingest_compact": ingest_compact}


# ---- traced pass: per-layer metrics -------------------------------------

def per_layer(run: Run, paths: dict, drv, store: StatusStore) -> None:
    """Per-layer metrics of the traced pass; ``drv`` is the workload's
    driver, or None to build one over its end state."""
    spark, tracer, a = run.spark, run.tracer, run.args
    L = run.layer
    spans = tracer.spans
    tracer.add_stages(store.stages(min(s.start for s in spans),
                                   time.time()))

    for k in ("cold_round_s", "frontier_rows_per_s", "compaction_s",
              "pages_fetched_per_s", "new_urls_per_s", "ingest_urls_per_s"):
        L[k] = run.e2e[k]
    # peak_rss_mb is added by run.py, which samples the process tree
    round_spans = [s for s in spans if s.name.startswith("run_round[")]
    sums = [store.summary(s.start, s.end) for s in round_spans]
    for k in StatusStore.SUMMARY_KEYS:
        unit = ("s" if k.endswith("_s") else
                "bytes" if k.endswith("_bytes") else "count")
        L[f"plans.run_round.{k}"] = (
            statistics.median(x[k] for x in sums) if sums else 0.0, unit)
    L["plans.run_round.url_seen_synced_ratio"] = (
        statistics.mean(r["synced"] for r in run.rounds)
        if run.rounds else 0.0, "ratio")
    (comp,) = [s for s in spans if s.name == "compact_frontier"]
    csum = store.summary(comp.start, comp.end)
    L["plans.compact_frontier.jobs"] = (csum["jobs"], "count")
    L["plans.compact_frontier.shuffle_write_bytes"] = (
        csum["shuffle_write_bytes"], "bytes")
    for m in ("append", "overwrite", "append_rows", "read_parts"):
        L[f"sources.snapshot.{m}_s"] = (sum(
            s.end - s.start for s in spans
            if s.name == f"sources.snapshot.{m}" and
            s.start >= run.first_call), "s")
    for t in STATE_TABLES:
        L[f"sources.state_bytes.{t}"] = (
            _du(os.path.join(run.workdir, t)), "bytes")
    for t, n in run.data_dirs.items():
        L[f"sources.{t}.data_dirs"] = (n, "count")

    from open_source_search_engine_spark.sources.snapstore import (
        frontier_table,
    )
    lin = [s["lineage"] for s in
           frontier_table(run.workdir, "requests").manifest()["snapshots"]
           .values() if s["lineage"].get("source") == "seed_stream"]
    ingest = [s.end - s.start for s in spans if s.name == "run_seed_ingest"]
    L["streaming.ingest.batches"] = (len(lin), "count")
    L["streaming.ingest.s_per_batch"] = (
        sum(ingest) / len(lin) if lin else 0.0, "s")
    L["streaming.ingest.frontier_scans"] = (
        sum(bool(x.get("frontier_scanned")) for x in lin), "count")

    now_ms = inputs.T0_MS + len(run.rounds) * 600_000
    drv = drv or new_driver(run, paths)
    with tracer.span("plans.candidates", phase=True) as s:
        layers.candidates(spark, drv, now_ms)
    L["plans.candidates.s"] = (s.end - s.start, "s")

    with tracer.span("layers.kernel", phase=True):
        smp = layers.sample(a.seed)
        k = layers.kernel(smp)
    with tracer.span("layers.functions", phase=True):
        f = layers.functions(spark, smp, a.cores, k)
    with tracer.span("layers.operators", phase=True):
        o = layers.operators(spark, a.seed, a.size)
    for name, v in {**k, **f, **o}.items():
        unit = {"pages_per_s": "pages/s", "urls_per_s": "urls/s",
                "hosts_per_s": "hosts/s", "rows_per_s": "rows/s",
                "vs_kernel": "ratio", "false_pos_ratio": "ratio",
                "s": "s"}[name.rsplit(".", 1)[1]]
        L[name] = (v, unit)

    st = tracer.self_times()
    for fam in SELF_TIME_SPANS:
        L[f"self_s.{fam}"] = (st.get(fam, 0.0), "s")
    os.makedirs(a.trace_dir, exist_ok=True)
    tracer.dump(os.path.join(
        a.trace_dir, f"{a.workload}-seed{a.seed}-{int(time.time())}.json"))


SELF_TIME_SPANS = (
    "seed", "run_round", "run_seed_ingest", "compact_frontier",
    "sources.snapshot.append", "sources.snapshot.overwrite",
    "sources.snapshot.append_rows", "sources.snapshot.read_parts",
    "operators.budget_select", "operators.stamp_global_seq",
    "plans.compaction.compact_requests", "plans.compaction.compact_replies",
    "plans.compaction.compact_inlinks", "spark.stage")


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", choices=("full", "tiny"), required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--spawn", type=float, required=True,
                    help="epoch seconds at which run.py started us")
    ap.add_argument("--cache-dir", required=True,
                    help="per-seed inputs and oracle results")
    ap.add_argument("--frontier-dir", required=True,
                    help="ingest_compact's frontier, made once")
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--trace-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--tamper", action="store_true",
                    help="corrupt the expected result (self-test)")
    a = ap.parse_args()

    tracer = Tracer()
    if a.trace:
        install_wrappers(tracer)
    from open_source_search_engine_spark.session import get_spark
    spark = get_spark(app_name="perfbench", cpus=a.cores)
    spark.sparkContext.setLogLevel("ERROR")
    log(f"session {time.time() - a.spawn:.2f}s after spawn")
    store = StatusStore(spark)
    run = Run(spark, a, tracer)
    try:
        paths, drv = WORKLOADS[a.workload](run)
        # wrapper bookkeeping during the timed calls: what tracing adds
        run.layer["trace.overhead_ratio"] = (
            tracer.overhead_s / run.e2e["crawl_total_s"][0], "ratio")
        # process start to the first timed call
        run.e2e["setup_s"] = (run.first_call - a.spawn, "s")
        run.e2e["ops_failed_ratio"] = (len(run.errors) / run.attempted,
                                       "ratio")
        log("checks done")
        if a.trace:
            per_layer(run, paths, drv, store)
            log("per-layer probes done")
    finally:
        spark.stop()
        log("session stopped")
    out = {"attempted": run.attempted, "failed": len(run.errors),
           "errors": run.errors,
           "e2e": {k: list(v) for k, v in run.e2e.items()},
           "layer": {k: list(v) for k, v in run.layer.items()}}
    with open(a.out, "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
