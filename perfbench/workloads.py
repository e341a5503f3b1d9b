"""The workloads: ``cooling`` and ``cdc_stream``, which the benchmark
lists, and ``llm_corpus``, which runs on its own by name and, once, in
every traced ``cooling`` run (``EXTRA_LAYERS``).

Each workload is one closed-loop client: it issues its next call only
after the previous one returned and its answer was checked. ``run.py``
drives the phases:

- ``prepare()``        input generation and loading (part of ``setup_s``);
- ``traced_setup()``   traced runs only: calls measured once, untimed;
- ``step()``           one unit of work: ``WARMUP`` times untimed, then
  ``reset()``, then repeated until time is up and at least
  ``MIN_STEPS`` times;
- ``finish()``         end-of-run checks too costly to make per step.

Every answer is checked against an oracle computed here (``oracles``),
never by the program under test; a failed check or a raised call is a
failed operation. A workload records, for the timed phase:

- ``op_s``    its write/compute call (``run_once``, a dedup pass, a
  micro-batch commit);
- ``read_s``  its read call (federation query, top-k query, snapshot
  read);
- ``unit_s``  one unit of work from input to verified result;
- ``rows``, ``written`` and ``user_bytes`` for throughput and write
  amplification.

In a traced run ``wrap()`` replaces the listed public functions of the
program with span recorders (``meter.Tracer.wrap``) and ``layers()``
turns the spans into per-layer metrics.
"""

from __future__ import annotations

import os
import re
import shutil
import statistics
import time
from datetime import datetime

import numpy as np
from pyspark.sql import functions as F

import inputs
import oracles
from meter import catalyst_s


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``; every file counts — data, crc and
    commit markers are all written storage."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(root, n))
                files += 1
            except OSError:
                pass
    return total, files


def med(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def patch(owner, attr: str, tracer, span: str) -> None:
    setattr(owner, attr, tracer.wrap(span, getattr(owner, attr)))


class Workload:
    name = ""
    WARMUP = 1  # untimed steps before the timed phase
    MIN_STEPS = 1  # a timed phase always completes this many steps

    def __init__(self, spark, tracer, seed: int, inject: str | None, work: str) -> None:
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.inject = inject  # plant a wrong answer: "answer" or "lake_row"
        self.work = work  # scratch directory inside the checkout
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.op_s: list[float] = []
        self.read_s: list[float] = []
        self.unit_s: list[float] = []
        self.rows = 0
        self.written = 0
        self.user_bytes = 0
        self.catalyst = 0.0
        self.units = 0

    def reset(self) -> None:
        """Forget the warm-up's timings; its checks still count."""
        self.op_s, self.read_s, self.unit_s = [], [], []
        self.rows = self.units = 0
        self.catalyst = 0.0

    def absorb(self, other: "Workload") -> None:
        """Count another workload's checks as this run's."""
        self.attempted += other.attempted
        self.failed += other.failed
        self.errors += other.errors

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what[:500])
        return ok

    def fail(self, what: str, exc: BaseException) -> None:
        self.attempted += 1
        self.failed += 1
        self.errors.append(f"{what}: {type(exc).__name__}: {str(exc)[:300]}")

    def collect(self, df) -> list:
        rows = df.collect()
        if self.tracer.enabled:
            self.catalyst += catalyst_s(df)
        return rows

    def spans(self, name: str) -> list[dict]:
        return [s for s in self.tracer.spans
                if s["name"] == name and s.get("phase") == "timed" and "end" in s]

    def span_s(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans(name)]

    def span_count(self, name: str, field: str) -> list[float]:
        return [s["counts"][field] for s in self.spans(name)]

    def finish(self) -> None:
        pass

    def wrap(self) -> None:
        pass

    def traced_setup(self) -> None:
        """Extra calls a traced run makes after set-up, for layers the
        untraced timed phase cannot afford."""

    def layers(self) -> dict:
        return {}


# -- cooling ---------------------------------------------------------------


class Cooling(Workload):
    """The paper's DAG at reference scale: 2,675,520 generated payments
    cached as the hot store (the PostgreSQL stand-in). One unit cools
    one year with ``CoolingPipeline.run_once`` and then runs the
    federation query over hot + lake; five units (2020..2024) make a
    pass, and every pass starts from a fresh lake and state."""

    name = "cooling"
    # the warm-up cools 2020 and 2021 (the second call still compiles);
    # the timed steps cool 2022-2024, 525,600 or 527,040 rows each
    WARMUP = 2
    MIN_STEPS = 3
    START = datetime(2020, 1, 1)
    MINUTES = 527040 * 2 + 525600 * 3 + 44640

    def __init__(self, *args) -> None:
        super().__init__(*args)
        self.minutes = self.MINUTES
        self.files = 0
        self.passes = 0
        self.todo: list[int] = []

    def reset(self) -> None:
        super().reset()
        self.written = self.user_bytes = self.files = 0

    def year_ids(self, y: int) -> tuple[int, int]:
        return oracles.year_ids(self.START, self.minutes, y)

    def prepare(self) -> None:
        from yc_yq_airflow_etl_spark.sources.generator import generate_payments

        self.pay = generate_payments(
            self.spark, minutes=self.minutes, seed=self.seed
        ).cache()
        n = self.pay.count()
        self.check(n == self.minutes, f"hot store has {n} rows, want {self.minutes}")

    def _new_pass(self) -> None:
        from yc_yq_airflow_etl_spark.plans.cooling import CoolingPipeline
        from yc_yq_airflow_etl_spark.sources.lake import LakeTable
        from yc_yq_airflow_etl_spark.sources.state import PipelineState

        base = os.path.join(self.work, f"cooling{self.passes}")
        if self.passes:
            shutil.rmtree(os.path.join(self.work, f"cooling{self.passes - 1}"),
                          ignore_errors=True)
        self.passes += 1
        self.lake = LakeTable(os.path.join(base, "lake"))
        self.state = PipelineState(os.path.join(base, "state.json"))
        self.retired: list[int] = []
        pay = self.pay
        self.pipe = CoolingPipeline(
            self.spark, lambda: pay, self.lake, self.state,
            retire=self.retired.append,
        )
        self.todo = [y for y in range(2020, 2025)
                     if self.year_ids(y)[0] <= self.minutes]

    def step(self) -> None:
        from yc_yq_airflow_etl_spark.plans import federation

        if not self.todo:
            self._new_pass()
        year = self.todo.pop(0)
        b0, f0 = dir_bytes(self.lake.path)
        t0 = time.perf_counter()
        try:
            with self.tracer.span("plans.cooling.run_once", op=self.tracer.new_op()):
                res = self.pipe.run_once()
        except Exception as exc:  # a ReconciliationError is a failed op
            self.fail(f"run_once {year}", exc)
            self.todo = []
            return
        t1 = time.perf_counter()
        self.check(
            res["diff"] == 0 and res["retired_year"] == year
            and self.retired[-1:] == [year],
            f"run_once {year}: {res}",
        )
        t2 = time.perf_counter()
        # the hot store no longer serves retired years
        hot = self.pay.filter(F.col("payment_date") >= F.lit(datetime(year + 1, 1, 1)))
        try:
            with self.tracer.span("plans.federation.build"):
                fed = federation.federated_counts_by_year(hot, self.lake.read(self.spark))
            with self.tracer.span("plans.federation.exec"):
                rows = self.collect(fed)
        except Exception as exc:
            self.fail(f"federation after {year}", exc)
            return
        t3 = time.perf_counter()
        got = {(r["dyear"], r["src"]): (r["cnt"], r["id_sum"]) for r in rows}
        if self.inject == "answer":
            k = next(iter(got))
            got[k] = (got[k][0] + 1, got[k][1])
        want = oracles.federation_counts(self.START, self.minutes, year)
        self.check(got == want, f"federation after {year}: {got} != {want}")
        t4 = time.perf_counter()
        b1, f1 = dir_bytes(self.lake.path)
        lo, hi = self.year_ids(year)
        self.op_s.append(t1 - t0)
        self.read_s.append(t3 - t2)
        self.unit_s.append(t4 - t0)
        self.rows += hi - lo + 1
        self.user_bytes += oracles.payments_raw_bytes(lo, hi)
        self.written += b1 - b0
        self.files += f1 - f0
        self.units += 1

    def wrap(self) -> None:
        from yc_yq_airflow_etl_spark.plans import cooling
        from yc_yq_airflow_etl_spark.sources.state import PipelineState

        t = self.tracer
        patch(cooling, "load_year", t, "plans.cooling.load_year")
        patch(cooling, "reconcile_year", t, "plans.cooling.reconcile_year")
        patch(cooling, "exclusion_diff_count", t, "operators.joins.exclusion_diff_count")
        patch(PipelineState, "get_watermark", t, "sources.state.watermark")
        patch(PipelineState, "set_watermark", t, "sources.state.watermark")

    def corrupt_lake_rows(self) -> None:
        """Fault ``lake_row``: after every load, rewrite one lake row's
        amount — the corruption the reconcile step exists to catch."""
        from yc_yq_airflow_etl_spark.plans import cooling

        real = cooling.load_year

        def corrupting_load(payments, lake, lo, hi):
            real(payments, lake, lo, hi)
            oracles.corrupt_one_row(os.path.join(lake.path, f"payment_year={lo.year}"))

        cooling.load_year = corrupting_load

    def layers(self) -> dict:
        runs = self.spans("plans.cooling.run_once")
        other = []
        for r in runs:
            inner = [s for s in self.tracer.spans if s["parent"] == r["id"]
                     and s["name"] in ("plans.cooling.load_year",
                                       "plans.cooling.reconcile_year")]
            other.append(r["end"] - r["start"]
                         - sum(s["end"] - s["start"] for s in inner))
        units = max(self.units, 1)
        return {
            "plans.cooling.load_year_s": med(self.span_s("plans.cooling.load_year")),
            "plans.cooling.reconcile_year_s": med(self.span_s("plans.cooling.reconcile_year")),
            "plans.cooling.run_other_s": med(other),
            "sources.state.watermark_s": sum(self.span_s("sources.state.watermark")) / units,
            "sources.lake.bytes_written": self.written / units,
            "sources.lake.files_written": self.files / units,
            "operators.joins.shuffle_write_bytes": med(self.span_count(
                "operators.joins.exclusion_diff_count", "shuffle_write_bytes")),
            "plans.federation.build_s": med(self.span_s("plans.federation.build")),
            "plans.federation.exec_s": med(self.span_s("plans.federation.exec")),
        }


# -- llm_corpus ------------------------------------------------------------


class LlmCorpus(Workload):
    """The LLM-data operators over an sf0.1-shaped corpus: 5,000
    documents plus seeded near-duplicate families, their ground-truth
    near-duplicate pairs, and 2,000 64-d embeddings. A unit is one dedup
    pass over the pair graph (``dedup_cluster_assignments`` then
    ``graph.pagerank``) followed by ``QUERIES`` top-k queries over an
    ANN index written in set-up: three of every four go through
    ``ivf_topk_indexed``, the fourth through ``brute_force_topk`` (the
    recall spot check), so the median query is an IVF query.

    A traced run also runs ``minhash_lsh_pairs``, ``simhash_dup_pairs``
    and ``build_training_corpus`` over the documents in set-up, for
    their per-layer numbers; an untraced run cannot afford them."""

    name = "llm_corpus"
    MIN_STEPS = 1
    QUERIES = 12
    K = 10
    NPROBE = 4
    K_CLUSTERS = 16
    IVF_ITERS = 3

    def prepare(self) -> None:
        from yc_yq_airflow_etl_spark.operators import similarity as sim

        self.asked = 0
        docs, self.pairs = inputs.documents(self.seed)
        emb = inputs.embeddings(self.seed)
        self.queries = inputs.queries(self.seed, emb, 256)
        d = os.path.join(self.work, "inputs")
        inputs.write_parquet(docs, os.path.join(d, "documents.parquet"))
        inputs.write_parquet(emb, os.path.join(d, "embeddings.parquet"))
        self.docs_pd = docs
        self.docs = self.spark.read.parquet(os.path.join(d, "documents.parquet"))
        self.emb = self.spark.read.parquet(os.path.join(d, "embeddings.parquet")).cache()
        self.pairs_df = self.spark.createDataFrame(self.pairs, "id_a long, id_b long").cache()
        self.check(self.emb.count() == len(emb), "embeddings load")
        self.check(self.pairs_df.count() == len(self.pairs), "pairs load")
        with self.tracer.span("operators.similarity.ivf_train"):
            self.centroids = sim.train_ivf_centroids(
                self.emb, k_clusters=self.K_CLUSTERS, iters=self.IVF_ITERS
            )
        index = os.path.join(self.work, "ann_index")
        sim.write_ann_index(self.emb, index, self.centroids)
        self.index = self.spark.read.parquet(index)
        # the only storage this workload writes: the ANN index
        self.written = dir_bytes(index)[0]
        self.user_bytes = inputs.raw_bytes(emb)
        self.topk = oracles.TopK(emb, self.centroids)
        self.want_clusters = oracles.union_find_clusters(self.pairs)

    def traced_setup(self) -> None:
        """MinHash, SimHash and the corpus build over the documents,
        each checked: every MinHash pair carries its exact shingle
        Jaccard, every SimHash pair is within the hamming bound, and the
        corpus funnel's quality-filter count matches the oracle."""
        from yc_yq_airflow_etl_spark.operators import dedup
        from yc_yq_airflow_etl_spark.plans import corpus
        from yc_yq_airflow_etl_spark.sources.lake import LakeTable

        t = self.tracer
        texts = dict(zip(self.docs_pd["doc_id"].tolist(), self.docs_pd["text"].tolist()))
        try:
            with t.span("operators.dedup.minhash"):
                mh = dedup.minhash_lsh_pairs(self.docs).collect()
            with t.span("operators.dedup.simhash"):
                sh = dedup.simhash_dup_pairs(self.docs).collect()
            with t.span("plans.corpus.build_corpus"):
                funnel = corpus.build_training_corpus(
                    self.docs,
                    LakeTable(os.path.join(self.work, "corpus"), partition_columns=("lang",)),
                )
        except Exception as exc:
            self.fail("dedup layers", exc)
            return
        bad = [r for r in mh if r["jaccard"] < 0.5 or abs(
            r["jaccard"] - oracles.shingle_jaccard(texts[r["id_a"]], texts[r["id_b"]])) > 1e-6]
        self.check(mh and not bad, f"{len(mh)} minhash pairs, {len(bad)} wrong: {bad[:2]}")
        self.check(all(r["id_a"] < r["id_b"] and r["hamming"] <= 3 for r in sh),
                   "simhash pair outside the hamming bound")
        want = oracles.quality_filter_count(self.docs_pd)
        self.check(
            funnel["total_docs"] == len(self.docs_pd)
            and funnel["after_quality_filter"] == want
            and 0 < funnel["after_near_dedup"] <= want
            and funnel["chunks_landed"] >= funnel["after_near_dedup"],
            f"corpus funnel {funnel}, quality filter oracle {want}",
        )

    def step(self) -> None:
        from yc_yq_airflow_etl_spark.operators import dedup, graph

        t = self.tracer
        t0 = time.perf_counter()
        try:
            with t.span("llm.dedup_pass", op=t.new_op()):
                with t.span("operators.dedup.clusters"):
                    clusters = self.collect(
                        dedup.dedup_cluster_assignments(self.docs, self.pairs_df))
                with t.span("operators.graph.pagerank"):
                    ranks = self.collect(graph.pagerank(self.pairs_df))
        except Exception as exc:
            self.fail("dedup pass", exc)
            return
        t1 = time.perf_counter()
        got = {(r["doc_id"], r["keeper_id"], r["cluster_size"]) for r in clusters}
        if self.inject == "answer":
            got = {(d, k + 1, n) for d, k, n in got}
        self.check(got == self.want_clusters,
                   f"cluster labels differ on {len(got ^ self.want_clusters)} rows")
        mass = sum(r["rank"] for r in ranks)
        self.check(abs(mass - 1.0) < 1e-9 and len(ranks) == len(self.want_clusters),
                   f"pagerank mass {mass} over {len(ranks)} vertices")
        reads = [self._query(i) for i in range(self.QUERIES)]
        t2 = time.perf_counter()
        self.op_s.append(t1 - t0)
        self.read_s.extend(r for r in reads if r is not None)
        self.unit_s.append(t2 - t0)
        self.rows += len(self.pairs) + self.QUERIES * len(self.topk.ids)
        self.units += 1

    def _query(self, i: int) -> float | None:
        from yc_yq_airflow_etl_spark.operators import similarity as sim

        q = self.queries[self.asked % len(self.queries)]
        self.asked += 1
        ivf = i % 4 != 3
        t = self.tracer
        t0 = time.perf_counter()
        try:
            with t.span("operators.similarity.topk", op=t.new_op()):
                with t.span("operators.similarity.topk_build"):
                    df = (sim.ivf_topk_indexed(self.index, q, self.centroids,
                                               k=self.K, nprobe=self.NPROBE)
                          if ivf else sim.brute_force_topk(self.emb, q, k=self.K))
                with t.span("operators.similarity.topk_exec"):
                    rows = self.collect(df)
        except Exception as exc:
            self.fail("top-k query", exc)
            return None
        dt = time.perf_counter() - t0
        got = [(r["vec_id"], r["cosine"]) for r in rows]
        if self.inject == "answer":
            got[0] = (got[0][0], got[0][1] + 0.01)
        ok, why = self.topk.check(q, got, self.K, self.NPROBE if ivf else None)
        self.check(ok, f"{'ivf' if ivf else 'brute'} top-k: {why}")
        return dt

    def layers(self) -> dict:
        out = {}
        for name in ("operators.dedup.minhash", "operators.dedup.simhash",
                     "plans.corpus.build_corpus", "operators.similarity.ivf_train"):
            s = [x for x in self.tracer.spans if x["name"] == name and "end" in x]
            out[name + "_s"] = med([x["end"] - x["start"] for x in s])
            if name.startswith("operators.dedup"):
                out[name + "_jobs"] = med([x["counts"]["jobs"] for x in s])
        for op in ("operators.dedup.clusters", "operators.graph.pagerank"):
            out[op + "_s"] = med(self.span_s(op))
            out[op + "_jobs"] = med(self.span_count(op, "jobs"))
        out["operators.similarity.topk_build_s"] = med(
            self.span_s("operators.similarity.topk_build"))
        out["operators.similarity.topk_exec_s"] = med(
            self.span_s("operators.similarity.topk_exec"))
        out["operators.similarity.topk_jobs"] = med(
            self.span_count("operators.similarity.topk", "jobs"))
        out["operators.similarity.topk_p90_s"] = (
            float(np.percentile(self.read_s, 90)) if self.read_s else 0.0)
        return out


# -- cdc_stream ------------------------------------------------------------


class CdcStream(Workload):
    """Writes beside reads on the manifest table: seeded changelog
    files (upserts and deletes over scattered keys of a 50,000-row
    ``orders`` table) are staged in set-up. A unit is one round: the
    next file becomes visible, ``cdc_stream_to_manifest_table`` drains
    it in merge-on-read mode (one file per micro-batch; the stream is
    started per round and stopped once drained, like a scheduled
    availableNow run), then the client reads the snapshot under
    deletion-vector debt (aggregate + ``read_where_eq`` point lookup)
    and calls ``maybe_compact``."""

    name = "cdc_stream"
    MIN_STEPS = 2
    ROWS_PER_FILE = 2000
    SCHEMA = ("o_orderkey long, o_custkey long, o_orderstatus string, "
              "o_totalprice double, o_orderpriority string, seq long, op string")

    def __init__(self, *args) -> None:
        super().__init__(*args)
        self.rng = np.random.default_rng([self.seed, 6])
        self.progress: list[dict] = []
        self.batches = 0

    def reset(self) -> None:
        super().reset()
        self.written = self.user_bytes = 0
        self.progress = []

    def prepare(self) -> None:
        from yc_yq_airflow_etl_spark.sources.manifest import ManifestTable

        base = os.path.join(self.work, "cdc")
        orders = inputs.orders(self.seed)
        self.changes = inputs.changelog(self.seed, self.ROWS_PER_FILE)
        self.src = os.path.join(base, "source")
        os.makedirs(self.src)
        self.ckpt = os.path.join(base, "checkpoint")
        inputs.write_parquet(orders, os.path.join(base, "orders.parquet"))
        self.table = ManifestTable(os.path.join(base, "table"), stat_cols=("o_orderkey",),
                                   bucket_cols=(("o_orderkey", 16),))
        self.table.overwrite(
            self.spark.read.parquet(os.path.join(base, "orders.parquet")).repartition(8))
        self.replay = oracles.CdcReplay(orders)

    def step(self) -> None:
        from yc_yq_airflow_etl_spark.streaming import manifest_sink

        # the next changelog file lands in the source directory; the
        # stream picks up files in modification-time order
        batch = next(self.changes)
        self.batches += 1
        inputs.write_parquet(batch, os.path.join(self.src, f"changes-{self.batches:04d}.parquet"))
        tdir = self.table.path
        b0 = dir_bytes(tdir)[0]
        t0 = time.perf_counter()
        stream = (self.spark.readStream.schema(self.SCHEMA)
                  .option("maxFilesPerTrigger", 1).parquet(self.src))
        try:
            with self.tracer.span("streaming.cdc_round", op=self.tracer.new_op()):
                q = manifest_sink.cdc_stream_to_manifest_table(
                    stream, self.table, "o_orderkey", "seq", self.ckpt,
                    mode="merge-on-read")
                try:
                    q.processAllAvailable()
                finally:
                    progress = [p for p in q.recentProgress if p.numInputRows > 0]
                    q.stop()
        except Exception as exc:
            self.fail("cdc drain", exc)
            return
        self.replay.apply(batch)
        self.check(len(progress) == 1, f"{len(progress)} micro-batches for one file")
        t1 = time.perf_counter()
        ok = self._read()
        t2 = time.perf_counter()
        try:
            with self.tracer.span("sources.manifest.maybe_compact"):
                self.table.maybe_compact(self.spark, max_files=24, target_files=8,
                                         max_dv_fraction=0.005)
        except Exception as exc:
            self.fail("maybe_compact", exc)
        t3 = time.perf_counter()
        b1 = dir_bytes(tdir)[0]
        for p in progress:
            self.op_s.append(p.durationMs["triggerExecution"] / 1000.0)
            self.progress.append(p.durationMs)
        if ok:
            self.read_s.append(t2 - t1)
        self.unit_s.append(t3 - t0)
        self.rows += len(batch)
        self.user_bytes += inputs.raw_bytes(batch)
        self.written += b1 - b0
        self.units += 1

    def _read(self) -> bool:
        """One snapshot read, a whole-table aggregate and a point
        lookup, both checked against the replay."""
        t = self.tracer
        key = self.replay.pick_key(self.rng)
        try:
            with t.span("sources.manifest.read", op=t.new_op()):
                agg = self.collect(self.table.read(self.spark).agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("o_custkey").alias("cust"),
                    F.sum("o_totalprice").alias("price"),
                ))[0]
                hit = self.collect(
                    self.table.read_where_eq(self.spark, "o_orderkey", key))
        except Exception as exc:
            self.fail("snapshot read", exc)
            return False
        got = [tuple(r[c] for c in oracles.CdcReplay.COLUMNS) for r in hit]
        n, cust, price = self.replay.aggregate()
        if self.inject == "answer":
            n += 1
        self.check(
            agg["n"] == n and agg["cust"] == cust
            and abs(agg["price"] - price) <= 1e-9 * abs(price),
            f"aggregate {agg} != ({n}, {cust}, {price})")
        return self.check(got == self.replay.lookup(key),
                          f"lookup {key}: {got} != {self.replay.lookup(key)}")

    def finish(self) -> None:
        rows = self.table.read(self.spark).toPandas()
        ok, why = self.replay.compare(rows)
        self.check(ok, f"final table vs replay: {why}")

    def wrap(self) -> None:
        from yc_yq_airflow_etl_spark.sources.manifest import ManifestTable
        from yc_yq_airflow_etl_spark.streaming import manifest_sink

        t = self.tracer
        patch(ManifestTable, "merge", t, "sources.manifest.merge")
        patch(manifest_sink, "apply_cdc_batch", t, "streaming.manifest_sink.apply_batch")

    def layers(self) -> dict:
        import json

        mdir = os.path.join(self.table.path, "_manifests")
        versions = sorted(int(m.group(1)) for n in os.listdir(mdir)
                          if (m := re.match(r"v(\d+)\.json$", n)))
        manifests = []
        for v in versions:
            with open(os.path.join(mdir, f"v{v}.json")) as f:
                manifests.append(json.load(f))
        rewritten, appended = [], []
        for prev, m in zip(manifests, manifests[1:]):
            if m.get("op") == "merge":
                rewritten.append(len(set(prev["files"]) - set(m["files"])))
                appended.append(len(set(m["files"]) - set(prev["files"])))
        dur = {k: [p.get(k, 0) / 1000.0 for p in self.progress]
               for k in ("addBatch", "walCommit", "queryPlanning", "triggerExecution")}
        return {
            "sources.manifest.merge_s": med(self.span_s("sources.manifest.merge")),
            "sources.manifest.read_s": med(self.span_s("sources.manifest.read")),
            "sources.manifest.compact_s": med(self.span_s("sources.manifest.maybe_compact")),
            "sources.manifest.files_rewritten": med(rewritten),
            "sources.manifest.files_appended": med(appended),
            "sources.manifest.dv_files": med([len(m.get("dvs", {})) for m in manifests
                                              if m.get("op") == "merge"]),
            "sources.manifest.bytes_written": self.written / max(self.units, 1),
            "streaming.manifest_sink.apply_batch_s": med(
                self.span_s("streaming.manifest_sink.apply_batch")),
            "streaming.add_batch_s": med(dur["addBatch"]),
            "streaming.wal_commit_s": med(dur["walCommit"]),
            "streaming.query_planning_s": med(dur["queryPlanning"]),
            "streaming.overhead_s": med([a - b for a, b in
                                         zip(dur["triggerExecution"], dur["addBatch"])]),
        }


WORKLOADS = {w.name: w for w in (Cooling, LlmCorpus, CdcStream)}
# workloads whose layers a traced run of another workload also measures
EXTRA_LAYERS = {"cooling": (LlmCorpus,)}
