"""The workloads: seeded inputs, the untraced public entry point each one
times, and the traced pass that calls the same layers one at a time.

Untraced runs call only public entry points: `Pipeline.run`,
`Pipeline.ingest` and `ops.dedup_queries.neardup_clusters_documents`.
Traced passes mirror those compositions call for call, but materialize
(persist + count) at every layer boundary inside a span, so each layer's
time and funnel count is measured where the work happens.
"""

from __future__ import annotations

import time
from pathlib import Path

import pandas as pd
from pyspark.sql import functions as F

from dedup.config import DedupConfig
from dedup.ledger import Ledger
from dedup.incremental import read_clusters
from dedup.ops import load_table
from dedup.ops.dedup_queries import DOC_CFG, neardup_clusters_documents
from dedup.pipeline import Pipeline, run_dataframe_pipeline
from dedup.stages import cluster as SC
from dedup.stages import exact as SE
from dedup.stages import minhash_lsh as SM
from dedup.stages import simhash as SS
from dedup.stages import verify as SV
from dedup.storage import TableStore

import inputs

# the store's hive-partitioned index tables, as Pipeline commits them
PARTITIONED = {
    "bands": ["pbucket"], "sim_blocks": ["sbucket"],
    "bands_stats": ["pbucket"], "sim_stats": ["sbucket"],
}
STORE_METHODS = ["read", "write", "stage", "commit_many", "append_pandas",
                 "compact", "current_snapshot", "paths", "exists"]
LEDGER_METHODS = ["status", "get", "create", "delete", "mark_completed",
                  "attempt_replacing"]
SEGMENT_TABLES = ["clusters", "bands", "sim_blocks", "fingerprints"]


def _mat(df):
    df = df.persist()
    return df, df.count()


def _bucket_counters(bands, config: DedupConfig) -> dict[str, float]:
    row = SM.band_stats(bands).agg(
        F.max("bsz").alias("mx"),
        F.sum((F.col("bsz") > config.bucket_cap).cast("int")).alias("capped"),
    ).collect()[0]
    return {"minhash_lsh.bucket_max": row["mx"] or 0,
            "minhash_lsh.capped_buckets": row["capped"] or 0}


def _verify_counters(verified, n_candidates: int, n_prepared: int,
                     config: DedupConfig) -> dict[str, float]:
    floor = config.jaccard_floor
    row = verified.agg(
        F.sum(F.col("accepted").cast("int")).alias("acc"),
        F.sum((F.col("accepted") & (F.col("jaccard") >= floor)).cast("int"))
        .alias("acc_j"),
    ).collect()[0]
    acc, acc_j = row["acc"] or 0, row["acc_j"] or 0
    return {
        "verify.prepared": n_prepared,
        "verify.screen_keep_ratio": n_prepared / max(n_candidates, 1),
        "verify.accepted": acc,
        "verify.accepted_jaccard": acc_j,
        "verify.accepted_lcs": acc - acc_j,
        "verify.accept_ratio": acc / max(n_prepared, 1),
    }


def _content_mb(reps) -> float:
    row = reps.agg(F.sum(F.octet_length("content")).alias("b")).collect()[0]
    return (row["b"] or 0) / 1e6


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


class BatchCode:
    """Checkpointed `Pipeline.run` over a generated code corpus, into a
    fresh work dir per run. The traced pass also ingests one batch."""

    def __init__(self, spark, seed: int, cores: int, files: int,
                 ingest_batch: int):
        self.spark = spark
        self.cfg = DedupConfig(shuffle_partitions=cores)
        pdf = inputs.code_files(files + ingest_batch, seed)
        key = ["repo", "path", "commit"]
        # doc_id as the engine defines it, computed here from the inputs
        ids = spark.createDataFrame(pdf[key]).select(
            F.xxhash64(*key).alias("doc_id"), *key).toPandas()
        # row order kept: docs[:files] is the base, docs[files:] the batch
        self.docs = pdf.merge(ids, on=key, how="left")[
            ["doc_id", "truth", "content"]]
        self.base_docs = self.docs.iloc[:files]
        self.files = spark.createDataFrame(pdf.iloc[:files].drop(columns="truth"))
        self.batch = spark.createDataFrame(pdf.iloc[files:].drop(columns="truth"))
        self.op_files = files

    def expected(self) -> pd.DataFrame:
        return self.base_docs

    def warm_up(self, work: Path) -> tuple[pd.DataFrame, float, dict]:
        # The same stages composed in memory, over the same inputs: this
        # warms the JVM and the Python workers without paying the ~20 s of
        # checkpoint writes a second time in every run. The first timed
        # Pipeline.run still pays the first use of the write path.
        t0 = time.perf_counter()
        found = run_dataframe_pipeline(self.files, self.cfg).toPandas()
        return found, time.perf_counter() - t0, {}

    def run(self, work: Path) -> tuple[pd.DataFrame, float, dict]:
        t0 = time.perf_counter()
        pipe = Pipeline(self.spark, self.cfg, work)
        found = pipe.run(self.files).toPandas()
        wall = time.perf_counter() - t0
        stages = {f"pipeline.{r.name}_s": r.wall_s for r in pipe.results}
        stages["pipeline.outside_stages_s"] = wall - sum(stages.values())
        return found, wall, stages

    def traced(self, T, work: Path) -> tuple[pd.DataFrame, dict, list]:
        spark, cfg = self.spark, self.cfg
        store = TableStore(work / "tables")
        ledger = Ledger(work / "ledger")
        T.wrap(store, "storage", STORE_METHODS)
        T.wrap(ledger, "ledger", LEDGER_METHODS)
        c: dict[str, float] = {}

        def stage(name: str, compute) -> None:
            # the protocol Pipeline._stage runs: claim, compute, one
            # atomic commit of every output, completion record
            ledger.status("__stage__", name, cfg.max_processing_time_s,
                          time.time())
            ledger.delete("__stage__", name)
            ledger.create("__stage__", name, time.time())
            outputs = compute()
            with T.span("storage.commit"):
                t0 = time.perf_counter()
                updates = {t: store.stage(df, t, "replace", PARTITIONED.get(t))
                           for t, df in outputs.items()}
                store.commit_many(updates)
                snaps = {t: store.current_snapshot(t) for t in outputs}
                store.append_pandas(pd.DataFrame([{
                    "stage": name, "table": t, "n_rows": 0,
                    "wall_s": time.perf_counter() - t0} for t in outputs]),
                    "_metrics")
            ledger.mark_completed(
                "__stage__", name,
                {"snapshots": snaps, "config_hash": cfg.config_hash()},
                time.time(), cfg.ttl_s)

        def sha256():
            with T.span("exact.hash"):
                hashed, _ = _mat(SE.hash_content(store.read(spark, "files")))
                reps, c["exact.reps"] = _mat(SE.representatives(hashed))
                exact, _ = _mat(SE.exact_clusters(hashed))
            return {"hashed": hashed.select("doc_id", "repo", "path",
                                            "commit", "lang", "sha"),
                    "reps": reps, "exact_clusters": exact}

        def minhash_lsh():
            reps = store.read(spark, "reps")
            with T.span("minhash_lsh.signatures"):
                sigs, _ = _mat(SM.signatures(reps, cfg))
            with T.span("minhash_lsh.candidates"):
                bands, _ = _mat(SM.band_rows(sigs))
                e_lsh, c["minhash_lsh.candidates"] = _mat(
                    SM.candidate_pairs(bands, cfg))
            with T.span("bench.counters"):
                c["minhash_lsh.content_mb"] = _content_mb(reps)
                c.update(_bucket_counters(bands, cfg))
            return {
                "signatures": sigs.select("doc_id", "sig"),
                "bands": SM.with_pbucket(bands).repartition(F.col("pbucket")),
                "bands_stats": SM.with_pbucket(SM.band_stats(bands))
                .withColumn("_v", F.lit(0).cast("int"))
                .repartition(F.col("pbucket")),
                "edges_lsh": e_lsh,
            }

        def simhash():
            reps = store.read(spark, "reps")
            with T.span("simhash.signatures"):
                sh, _ = _mat(SS.simhashes(reps, cfg))
            with T.span("simhash.candidates"):
                e_sim, c["simhash.candidates"] = _mat(
                    SS.candidate_pairs(sh, cfg))
            return {
                "simhashes": sh,
                "sim_blocks": SS.with_sbucket(SS.block_rows(sh))
                .repartition(F.col("sbucket")),
                "sim_stats": SS.with_sbucket(SS.block_stats(sh))
                .withColumn("_v", F.lit(0).cast("int"))
                .repartition(F.col("sbucket")),
                "edges_simhash": e_sim,
            }

        def verify():
            reps = store.read(spark, "reps")
            sigs = store.read(spark, "signatures")
            with T.span("candidates.union"):
                edges, n = _mat(
                    store.read(spark, "edges_lsh")
                    .unionByName(store.read(spark, "edges_simhash"))
                    .dropDuplicates(["src", "dst"]))
            c["candidates.union_pairs"] = n
            with T.span("verify.fingerprints"):
                fps, _ = _mat(SV.doc_fingerprints(reps, cfg))
            with T.span("verify.prepare"):
                prepared, n_prep = _mat(
                    SV.prepare_pairs(edges, reps, sigs, cfg, fps=fps))
            with T.span("verify.worker"):
                verified, _ = _mat(SV.verify_edges(
                    prepared, cfg, num_partitions=cfg.shuffle_partitions))
            with T.span("bench.counters"):
                c.update(_verify_counters(verified, n, n_prep, cfg))
            return {"edges_verified": verified.where("accepted"),
                    "fingerprints": fps}

        def cluster():
            edges = store.read(spark, "edges_verified")
            exact = store.read(spark, "exact_clusters")
            with T.span("cluster.cc"):
                labels, c["cluster.cc_rounds"] = SC.connected_components(edges)
                labels, _ = _mat(labels)
            with T.span("cluster.assign"):
                clusters, _ = _mat(SC.assign_clusters(exact, labels)
                                   .withColumn("_v", F.lit(0).cast("int")))
            return {"clusters": clusters}

        with T.span("run.pipeline"):
            store.write(self.files, "files")
            for name, fn in [("sha256", sha256), ("minhash_lsh", minhash_lsh),
                             ("simhash", simhash), ("verify", verify),
                             ("cluster", cluster)]:
                stage(name, fn)
            with T.span("storage.read_clusters"):
                found = read_clusters(spark, store).toPandas()
        spark.catalog.clearCache()

        # one incremental batch against the index just built, through the
        # public entry point; its store and ledger calls get spans
        pipe = Pipeline(spark, cfg, work)
        T.wrap(pipe.store, "storage", STORE_METHODS)
        T.wrap(pipe.ledger, "ledger", LEDGER_METHODS)
        with T.span("incremental.ingest") as ing:
            after = pipe.ingest(self.batch).toPandas()
        c["incremental.ingest_s"] = ing["end"] - ing["start"]
        c["storage.bytes_written"] = _dir_bytes(work / "tables")
        for t in SEGMENT_TABLES:
            c[f"storage.segments.{t}"] = len(pipe.store.paths(t))
        return found, c, [("after_ingest", after, self.docs)]


class ShortDocs:
    """`neardup_clusters_documents` over short small-vocabulary documents
    written to a `documents.parquet` during set-up."""

    def __init__(self, spark, seed: int, docs: int, work: Path):
        self.spark = spark
        pdf = inputs.short_docs(docs, seed)
        self.dir = work / "documents"
        self.dir.mkdir(parents=True)
        pdf[["doc_id", "text"]].to_parquet(self.dir / "documents.parquet",
                                           index=False)
        self.docs = pdf.rename(columns={"text": "content"})
        self.op_files = docs

    def expected(self) -> pd.DataFrame:
        return self.docs

    def run(self, work: Path) -> tuple[pd.DataFrame, float, dict]:
        t0 = time.perf_counter()
        found = neardup_clusters_documents(self.spark, str(self.dir)).toPandas()
        return found, time.perf_counter() - t0, {}

    warm_up = run

    def traced(self, T, work: Path) -> tuple[pd.DataFrame, dict, list]:
        spark, cfg = self.spark, DOC_CFG
        c: dict[str, float] = {}
        with T.span("run.query"):
            reps = load_table(spark, str(self.dir), "documents").select(
                "doc_id", F.col("text").alias("content"))
            with T.span("minhash_lsh.signatures"):
                sigs, _ = _mat(SM.joint_signatures(reps, cfg, with_fp=True))
            with T.span("minhash_lsh.candidates"):
                e_lsh, c["minhash_lsh.candidates"] = _mat(SM.candidate_pairs(
                    SM.band_rows(sigs), cfg, dedup=False))
            with T.span("simhash.candidates"):
                e_sim, c["simhash.candidates"] = _mat(SS.candidate_pairs(
                    sigs.select("doc_id", "simhash", "blocks"), cfg,
                    dedup=False))
            with T.span("candidates.union"):
                edges, n = _mat(e_lsh.unionByName(e_sim)
                                .dropDuplicates(["src", "dst"]))
            c["candidates.union_pairs"] = n
            with T.span("verify.prepare"):
                prepared, n_prep = _mat(SV.prepare_pairs(
                    edges, reps, sigs, cfg,
                    fps=sigs.select("doc_id", "fp", "nlen")))
            with T.span("verify.worker"):
                verified, _ = _mat(SV.verify_edges(prepared, cfg))
            with T.span("cluster.cc"):
                labels, c["cluster.cc_rounds"] = SC.connected_components(
                    verified.where("accepted"))
                labels, _ = _mat(labels)
            with T.span("cluster.assign"):
                found = (
                    reps.select("doc_id").join(labels, "doc_id", "left")
                    .select("doc_id",
                            F.coalesce("cluster_id", "doc_id").alias("cluster_id"))
                    .withColumn("is_canonical",
                                F.col("doc_id") == F.col("cluster_id"))
                ).toPandas()
            with T.span("bench.counters"):
                c["minhash_lsh.content_mb"] = _content_mb(reps)
                c.update(_bucket_counters(SM.band_rows(sigs), cfg))
                c.update(_verify_counters(verified, n, n_prep, cfg))
        spark.catalog.clearCache()
        return found, c, []


class IngestStream:
    """Set-up builds a base index with `Pipeline.run`; each timed operation
    is one `Pipeline.ingest` batch drawn from the same seeded corpus.
    Runnable by hand; see README.md for why BENCHMARK.json leaves it out."""

    def __init__(self, spark, seed: int, cores: int, base: int, batch: int,
                 batches: int, work: Path):
        self.spark = spark
        self.inner = BatchCode(spark, seed, cores, base, batch * batches)
        rows = self.inner.batch.toPandas()
        ids = self.inner.docs["doc_id"].iloc[base:]
        self.batches = [(spark.createDataFrame(rows.iloc[i:i + batch]),
                         set(ids.iloc[i:i + batch]))
                        for i in range(0, len(rows), batch)]
        self.pipe = Pipeline(spark, self.inner.cfg, work / "index")
        self.pipe.run(self.inner.files).count()
        self.ingested = set(self.inner.base_docs["doc_id"])
        self.next = 0
        self.op_files = batch

    def expected(self) -> pd.DataFrame:
        return self.inner.docs[self.inner.docs["doc_id"].isin(self.ingested)]

    def run(self, work: Path) -> tuple[pd.DataFrame, float, dict]:
        batch, ids = self.batches[self.next]
        self.next += 1
        t0 = time.perf_counter()
        found = self.pipe.ingest(batch).toPandas()
        wall = time.perf_counter() - t0
        self.ingested |= ids
        return found, wall, {}

    warm_up = run

    def exhausted(self) -> bool:
        return self.next >= len(self.batches)
