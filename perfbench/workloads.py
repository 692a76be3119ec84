"""The benchmark's workloads: seeded inputs, one operation, and the checks on
its output.

Every workload writes its inputs as parquet with ``datagen.write_parquet`` in
set-up; an operation reads them the way ``jobs/er_job.py --input`` does
(``ensure_scan_parallelism`` at twice the default parallelism) and writes its
result, like the job, to a fresh directory. The checks read those files with
pandas, not Spark, so checking adds no Spark jobs to the session.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil

import numpy as np
import pandas as pd

from mel_spark.datagen import GenConfig, generate_repos, write_parquet
from mel_spark.pipeline import ERConfig

F1_GATE = 0.99  # the ROADMAP's pipeline F1 gate


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def read_input(spark, path: str):
    from mel_spark.session import ensure_scan_parallelism

    # never pass cache_key: it memoizes the split count for the process
    return ensure_scan_parallelism(
        spark.read.parquet(path), spark.sparkContext.defaultParallelism * 2
    )


def pair_f1(assign: pd.Series, gold: pd.Series) -> float:
    """Pairwise F1 of two assignments indexed by mention_id: the same pair
    sets ``operators.evaluate.pairwise_prf`` compares, counted from the
    contingency table instead of enumerated."""
    both = pd.DataFrame({"p": assign, "g": gold.reindex(assign.index)})

    def pairs(counts: pd.Series) -> int:
        c = counts.to_numpy(dtype=np.int64)
        return int((c * (c - 1) // 2).sum())

    tp = pairs(both.groupby(["p", "g"]).size())
    pp = pairs(both.groupby("p").size())
    gp = pairs(both.groupby("g").size())
    precision = tp / pp if pp else 1.0
    recall = tp / gp if gp else 1.0
    return 2 * precision * recall / (precision + recall) if precision + recall else 0.0


def sha_mismatches(ingested: pd.DataFrame) -> int:
    """Rows whose content_sha is not sha256(content): the north-rule
    invariant, recomputed outside Spark."""
    want = [hashlib.sha256(c.encode("utf-8")).hexdigest() for c in ingested["content"]]
    return int((ingested["content_sha"].to_numpy() != np.array(want, dtype=object)).sum())


def held_out(n: int, frac: float, seed: int) -> np.ndarray:
    """Boolean mask of a seeded random sample (never a tail slice: the
    generator emits singletons last)."""
    rng = np.random.default_rng([seed, 1])
    mask = np.zeros(n, dtype=bool)
    mask[rng.choice(n, size=max(1, round(frac * n)), replace=False)] = True
    return mask


class Op:
    """One operation's output locations and the numbers its check derives."""

    def __init__(self, work: str, i: int):
        self.dir = os.path.join(work, f"op{i}")
        self.out = os.path.join(work, f"op{i}_out")
        self.errors: list[str] = []
        self.wall = 0.0
        self.rss_mb = 0.0
        self.traced = False
        self.spans: list = []
        self.quality = 0.0
        self.storage_ratio = 0.0
        self.counts: dict[str, float] = {}

    def cleanup(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
        shutil.rmtree(self.out, ignore_errors=True)


class Fold:
    """Fold a held-out 2% seeded random sample into a completed base run."""

    # set-up already runs the pipeline twice in this session (base and the
    # from-scratch reference), which warms the JIT and the shared kernels
    warm_up_op = False
    n_files = 20_000
    batch_frac = 0.02

    def __init__(self):
        self.cfg = ERConfig()

    def setup(self, spark, work: str, seed: int, errors: list[str]) -> None:
        from mel_spark.pipeline import run_pipeline

        tables = generate_repos(GenConfig(n_files=self.n_files, seed=seed))
        repos, gold = tables["repos"], tables["reference_clusters"]
        batch = held_out(len(repos), self.batch_frac, seed)
        self.base_in = os.path.join(work, "base_in")
        self.batch_in = os.path.join(work, "batch_in")
        all_in = os.path.join(work, "all_in")
        write_parquet({"repos": repos[~batch]}, self.base_in)
        write_parquet({"repos": repos[batch]}, self.batch_in)
        write_parquet({"repos": repos}, all_in)
        self.rows = int(batch.sum())
        self.input_bytes = os.path.getsize(os.path.join(self.batch_in, "repos.parquet"))
        self.gold = gold.set_index("mention_id")["entity_id"]

        self.base_ckpt = os.path.join(work, "base_ckpt")
        run_pipeline(spark, read_input(spark, f"{self.base_in}/repos.parquet"),
                     self.base_ckpt, self.cfg, input_token=self.base_in)
        base_rows = pd.read_parquet(os.path.join(self.base_ckpt, "ingest"),
                                    columns=["content", "content_sha"])
        if len(base_rows) != len(repos) - self.rows or sha_mismatches(base_rows):
            errors.append("base ingest: row count or content_sha invariant broken")

        # the identity the fold must reproduce: a from-scratch run over
        # base ∪ batch (BENCH/INCREMENTAL.md), computed once
        ref_ckpt = os.path.join(work, "ref_ckpt")
        run_pipeline(spark, read_input(spark, f"{all_in}/repos.parquet"),
                     ref_ckpt, self.cfg, input_token=all_in)
        ref = pd.read_parquet(os.path.join(ref_ckpt, "clusters"),
                              columns=["mention_id", "cluster_id"])
        self.reference = ref.set_index("mention_id")["cluster_id"].sort_index()
        # blocking counts of the full run the fold is equivalent to
        def marker(stage: str) -> int:
            with open(os.path.join(ref_ckpt, f"{stage}._MARKER.json")) as f:
                return json.load(f)["rows"]

        sizes = pd.read_parquet(os.path.join(ref_ckpt, "block_sizes"),
                                columns=["block_size"])["block_size"]
        self.blocking_counts = {
            "blocking.kept_ratio": marker("blocks") / marker("block_index"),
            "blocking.hot_keys": int((sizes > self.cfg.salt_threshold).sum()),
        }
        shutil.rmtree(ref_ckpt)
        shutil.rmtree(all_in)

    def run(self, spark, op: Op, tracer) -> None:
        from mel_spark.operators.incremental import incremental_update

        repos = read_input(spark, f"{self.batch_in}/repos.parquet")
        with tracer.span("incremental_update", "incremental"):
            inc = incremental_update(spark, self.base_ckpt, repos, self.cfg,
                                     checkpoint_dir=op.dir, input_token=self.batch_in)
            # the full assignment, written as er_job writes it
            inc["clusters"].select("mention_id", "cluster_id").write.mode(
                "overwrite").parquet(op.out)

    def check(self, op: Op) -> None:
        out = pd.read_parquet(op.out)
        assign = out.set_index("mention_id")["cluster_id"]
        if not assign.index.is_unique or len(assign) != len(self.gold):
            op.errors.append(f"{len(assign)} assignment rows for {len(self.gold)} inputs")
        elif not assign.sort_index().equals(self.reference):
            op.errors.append("fold assignment differs from the from-scratch run")
        op.quality = pair_f1(assign[~assign.index.duplicated()], self.gold)
        if op.quality < F1_GATE:
            op.errors.append(f"pair_f1 {op.quality:.5f} < {F1_GATE}")
        delta = pd.read_parquet(os.path.join(op.dir, "ingest_delta"),
                                columns=["content", "content_sha"])
        if len(delta) != self.rows or sha_mismatches(delta):
            op.errors.append("ingest_delta: row count or content_sha invariant broken")
        written, files = dir_bytes(op.dir)
        op.storage_ratio = written / self.input_bytes
        op.counts = {"checkpoint.bytes_written": written,
                     "checkpoint.files_written": files}

    def layer_counts(self, op: Op, stage_rows: dict[str, float]) -> dict[str, float]:
        """Per-layer counts of a traced fold, from its checkpoint stages."""
        scores = pd.read_parquet(os.path.join(op.dir, "pairs_delta"),
                                 columns=["score"])["score"]
        matches = int((scores >= self.cfg.threshold).sum())
        rows = lambda st: stage_rows.get(st, 0)  # noqa: E731
        return {
            "vectors.distinct_ratio": rows("embed") / rows("ingest") if rows("ingest") else 0.0,
            "blocking.keys_per_content": rows("block_index") / rows("embed") if rows("embed") else 0.0,
            "pairs.candidates": len(scores),
            "pairs.match_ratio": matches / len(scores) if len(scores) else 0.0,
            "cluster.edges_in": matches,
            "incremental.rows_out": len(self.gold),
            **self.blocking_counts,
        }


class LinkTopk:
    """Build an IVF index over the corpus's content embeddings and link
    held-out query files to their top 10 neighbours."""

    warm_up_op = True
    n_files = 1_500
    n_queries = 150
    k = 10
    nprobe = 8

    def __init__(self):
        self.cfg = ERConfig()

    def setup(self, spark, work: str, seed: int, errors: list[str]) -> None:
        from mel_spark.pipeline import embed_stage, ingest

        tables = generate_repos(GenConfig(n_files=self.n_files, seed=seed))
        repos = tables["repos"]
        entity = tables["reference_clusters"]["entity_id"].to_numpy()
        # queries: a seeded random sample of files, at most one per entity
        # and only from entities with another member left in the index
        sizes = np.bincount(entity)
        rng = np.random.default_rng([seed, 2])
        order = rng.permutation(len(repos))
        order = order[sizes[entity[order]] >= 2]
        _, first = np.unique(entity[order], return_index=True)
        is_query = np.zeros(len(repos), dtype=bool)
        is_query[rng.choice(order[first], size=self.n_queries, replace=False)] = True

        # content embeddings from the pipeline's own ingest + embed stages,
        # as (csid, fp16 emb) like the embed checkpoint stores them
        corpus_in = os.path.join(work, "corpus_in")
        write_parquet({"repos": repos}, corpus_in)
        mentions = ingest(read_input(spark, f"{corpus_in}/repos.parquet")).select(
            "mention_id", "csid", "content").localCheckpoint()
        emb = embed_stage(mentions, self.cfg).select("csid", "emb").toPandas()
        ids = mentions.select("mention_id", "csid").toPandas()
        shutil.rmtree(corpus_in)

        csid = ids.set_index("mention_id")["csid"].reindex(
            tables["reference_clusters"]["mention_id"]).to_numpy()
        self.index_emb = os.path.join(work, "index_emb")
        os.makedirs(self.index_emb)
        emb[emb["csid"].isin(csid[~is_query])].to_parquet(
            os.path.join(self.index_emb, "part-0.parquet"), index=False)
        # query ids live outside the index id space: ivf_index_topk drops
        # query_id == neighbor_id, and a byte-identical held-out copy shares
        # its index twin's csid
        queries = pd.DataFrame({"query_id": np.arange(1, self.n_queries + 1),
                                "csid": csid[is_query]})
        if queries["query_id"].isin(emb["csid"]).any():
            errors.append("query ids collide with index ids")
        self.queries = os.path.join(work, "queries")
        os.makedirs(self.queries)
        queries.merge(emb, on="csid")[["query_id", "emb"]].to_parquet(
            os.path.join(self.queries, "part-0.parquet"), index=False)

        # gold: the index csids of each query's entity
        index_csids = pd.Series(csid[~is_query]).groupby(entity[~is_query]).agg(set)
        self.gold = dict(zip(queries["query_id"], index_csids[entity[is_query]]))
        n_vectors = int(emb["csid"].isin(csid[~is_query]).sum())
        self.n_cells = max(1, int(5 * math.sqrt(n_vectors)))  # ann_index_job's 5·√N
        self.rows = self.n_queries
        self.input_bytes = dir_bytes(self.index_emb)[0]

    def run(self, spark, op: Op, tracer) -> None:
        from mel_spark.operators.ann_index import build_ivf_index, ivf_index_topk

        # read as jobs/ann_index_job.py reads its --embeddings / --queries
        emb = spark.read.parquet(self.index_emb)
        with tracer.span("build_ivf_index", "ann_index"):
            build_ivf_index(emb, op.dir, n_cells=self.n_cells, i_id="csid",
                            i_emb="emb", iterations=3, seed=42)
        queries = spark.read.parquet(self.queries)
        # the span covers the lazy result's materialisation: that is where
        # the probe's scoring and ranking run
        with tracer.span("ivf_index_topk", "ann_index"):
            ivf_index_topk(spark, queries, op.dir, k=self.k, nprobe=self.nprobe,
                           q_id="query_id", q_emb="emb").write.parquet(op.out)

    def check(self, op: Op) -> None:
        out = pd.read_parquet(op.out).sort_values(["query_id", "rank"])
        per_q = out.groupby("query_id")
        if set(per_q.groups) != set(self.gold):
            op.errors.append("top-k result misses queries")
        ranks_ok = per_q["rank"].apply(lambda r: r.tolist() == list(range(1, self.k + 1)))
        cos_ok = per_q["cos"].apply(lambda c: bool((np.diff(c.to_numpy()) <= 0).all()))
        if not ranks_ok.all():
            op.errors.append(f"{int((~ranks_ok).sum())} queries without ranks 1..{self.k}")
        if not cos_ok.all():
            op.errors.append(f"{int((~cos_ok).sum())} queries with increasing cos")
        hits = per_q["neighbor_id"].apply(
            lambda n: not self.gold[n.name].isdisjoint(n.tolist()))
        op.quality = float(hits.sum()) / len(self.gold)
        written, files = dir_bytes(op.dir)
        op.storage_ratio = written / self.input_bytes
        op.counts = {"checkpoint.bytes_written": written,
                     "checkpoint.files_written": files,
                     "ann_index.n_cells": self.n_cells,
                     "ann_index.rows_out": len(out)}

    def layer_counts(self, op: Op, stage_rows: dict[str, float]) -> dict[str, float]:
        return {}
