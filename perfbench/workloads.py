"""The benchmark's workloads: seeded inputs, the timed operation, and the
check of every operation's output.

Each workload is a closed loop with one client: the next operation
starts when the previous one (and its output check) has finished. The
program under test only ever sees the generated inputs; the seed stays
here. Sizes are fixed per workload so runs of different seeds do the
same amount of work.

- ``bootstrap``   one ``run_linkage`` from an empty spine over a
                  synthetic transcript corpus (records -> probe ->
                  form_entities -> relink -> checkpoint).
- ``incremental`` resume from a checkpointed base spine and link one new
                  table stage: a batch of conversations, mostly from
                  known entities and a minority from new ones.
- ``dedup``       ``neardup_clusters`` (MinHash LSH -> Jaccard verify ->
                  connected components) over a corpus of 8-document
                  families, then ``simhash_clusters`` over its first 160
                  documents: the SimHash signature is the slowest
                  per-document path.
"""

from __future__ import annotations

import importlib.util
import shutil
import sys
from collections import defaultdict
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spinebasedrecordlinkage_jl_spark.config import (
    ApproxMatch,
    LinkageConfig,
    LinkageCriteria,
    TableConfig,
)
from spinebasedrecordlinkage_jl_spark.operators import dedup
from spinebasedrecordlinkage_jl_spark.operators.records import conversation_records
from spinebasedrecordlinkage_jl_spark.session import widen_if_narrow
from spinebasedrecordlinkage_jl_spark.sources.transcripts import synthesize_transcripts

from spans import Tracer, patched

# the plans package re-exports the function under the module's name
rl = importlib.import_module("spinebasedrecordlinkage_jl_spark.plans.run_linkage")

#: entities of the bootstrap corpus (~2.4 conversation records each)
BOOTSTRAP_ENTITIES = 2_500
#: entities behind the incremental base spine, and entities that first
#: appear in the batch
INCR_BASE_ENTITIES = 8_000
INCR_NEW_ENTITIES = 250
#: one in this many later conversations of a known entity is held back
#: from the base corpus and arrives in the batch
INCR_HOLDBACK = 8
NEARDUP_DOCS = 2_000
SIMHASH_DOCS = 160
FAMILY = 8  # documents per near-duplicate family
ORACLE_ENTITIES = 120  # size of the sequential-oracle self-check
ORACLE_MIN_F1 = 0.99


@dataclass
class Check:
    ok: bool
    f1: float
    detail: str


# -- shared helpers -----------------------------------------------------

def _c2(n: int) -> int:
    return n * (n - 1) // 2


def pair_counts_f1(items: DataFrame, truth: str, pred: str, new: str | None = None) -> dict:
    """Pairwise precision/recall/F1 of clustering ``pred`` against
    ``truth``. Spark counts the items of every (truth, pred) cell; pairs
    are then summed per cell, so no pair is ever enumerated. With
    ``new``, only pairs with at least one item where ``new`` is true
    count."""
    flag = F.col(new).cast("long") if new else F.lit(1).cast("long")
    cells = items.groupBy(truth, pred).agg(F.count(F.lit(1)), F.sum(flag)).collect()
    by_truth: dict = defaultdict(lambda: [0, 0])
    by_pred: dict = defaultdict(lambda: [0, 0])
    tp = 0
    for t, p, n, nb in cells:
        tp += _c2(n) - _c2(n - nb)
        for group in (by_truth[t], by_pred[p]):
            group[0] += n
            group[1] += nb
    tt = sum(_c2(n) - _c2(n - nb) for n, nb in by_truth.values())
    pp = sum(_c2(n) - _c2(n - nb) for n, nb in by_pred.values())
    precision = tp / pp if pp else 1.0
    recall = tp / tt if tt else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {"f1": f1, "cells": len(cells), "truth_groups": len(by_truth), "pred_groups": len(by_pred)}


def partition_fingerprint(links: DataFrame) -> tuple:
    """Order- and label-independent fingerprint of the EventId ->
    EntityId partition: (links, entities, two hash sums over each event
    paired with its entity's smallest EventId)."""
    canon = links.groupBy("EntityId").agg(F.min("EventId").alias("_c"))
    mask = F.lit(0x7FFFFFFF)
    row = (
        links.join(canon, "EntityId")
        .agg(
            F.count(F.lit(1)),
            F.countDistinct("EntityId"),
            F.sum(F.xxhash64("EventId", "_c").bitwiseAND(mask)),
            F.sum(F.xxhash64("_c", "EventId", F.lit("fp")).bitwiseAND(mask)),
        )
        .first()
    )
    return tuple(int(v or 0) for v in row)


def linkage_criteria(table: str, first_id: int) -> tuple[LinkageCriteria, ...]:
    """The three criteria of the pairwise-F1 gate: exact identity, then
    fuzzy lastname (Levenshtein) and fuzzy firstname (Jaro-Winkler),
    each blocked on birthdate."""
    return (
        LinkageCriteria(
            id=first_id,
            tablename=table,
            exactmatch={"firstname": "firstname", "lastname": "lastname", "birthdate": "birthdate"},
        ),
        LinkageCriteria(
            id=first_id + 1,
            tablename=table,
            exactmatch={"firstname": "firstname", "birthdate": "birthdate"},
            approxmatch=(ApproxMatch("lastname", "lastname", "levenshtein", 0.3),),
        ),
        LinkageCriteria(
            id=first_id + 2,
            tablename=table,
            exactmatch={"lastname": "lastname", "birthdate": "birthdate"},
            approxmatch=(ApproxMatch("firstname", "firstname", "jarowinkler", 0.35),),
        ),
    )


def linkage_config(outdir: Path, tables: list[str]) -> LinkageConfig:
    criteria: tuple[LinkageCriteria, ...] = ()
    for k, t in enumerate(tables):
        criteria += linkage_criteria(t, 3 * k + 1)
    return LinkageConfig(
        projectname="perfbench",
        output_directory=str(outdir),
        spine_datafile=None,
        spine_columns=("EntityId", "firstname", "lastname", "birthdate"),
        append_to_spine=True,
        construct_entityid_from=("firstname", "lastname", "birthdate"),
        tables={t: TableConfig(name=t, datafile="", primarykey=("conv_id",)) for t in tables},
        criteria=criteria,
    )


def _load_oracle(repo_root: Path):
    """The repository's sequential reference oracle (tests/oracle.py),
    loaded by path so no ``tests`` package name is resolved."""
    spec = importlib.util.spec_from_file_location(
        "spinelink_oracle", repo_root / "tests" / "oracle.py"
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # dataclasses resolve their module by name
    spec.loader.exec_module(mod)
    return mod


# -- workloads ----------------------------------------------------------

class Workload:
    """One workload bound to a session, a work directory and a seed.

    ``generate`` writes the seeded inputs (repeatable; timed as set-up),
    ``prepare`` does the one-off set-up and warm-up, ``op`` is the timed
    operation and returns a handle that ``check`` verifies and
    ``cleanup`` releases."""

    def __init__(self, spark, work: Path, seed: int, tracer: Tracer, repo_root: Path):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.repo_root = repo_root
        self.n_items = 0
        self.reference_fp: tuple | None = None

    def generate(self) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        raise NotImplementedError

    def op(self, i: int):
        raise NotImplementedError

    def check(self, handle) -> Check:
        raise NotImplementedError

    def cleanup(self, handle) -> None:
        """Delete the operation's output and drop every cached frame, so
        the next operation recomputes instead of reading the cache."""
        if handle is not None:
            shutil.rmtree(handle, ignore_errors=True)
        self.spark.catalog.clearCache()

    def _same_fingerprint(self, fp: tuple) -> bool:
        """The first checked operation fixes the fingerprint; every later
        operation of the run must reproduce it."""
        if self.reference_fp is None:
            self.reference_fp = fp
        return fp == self.reference_fp


class _Linkage(Workload):
    def _records(self, path: Path, table: str) -> DataFrame:
        with self.tracer.span("records"):
            rec = conversation_records(
                self.spark.read.parquet(str(path)), tablename=table
            ).localCheckpoint(eager=True)
        self.tracer.record_rows("records", rec)
        return rec

    def _run_linkage(self, cfg, records_by_table, resume=False):
        with self.tracer.span("run_linkage"), patched(self.tracer):
            run = rl.run_linkage(self.spark, cfg, records_by_table, resume=resume)
        self.tracer.record_rows("run_linkage", run.links)
        return run

    def oracle_self_check(self) -> None:
        """Pairwise F1 >= 0.99 against the sequential reference oracle on
        a corpus small enough for it; raises when the gate fails."""
        oracle = _load_oracle(self.repo_root)
        t, _ = synthesize_transcripts(self.spark, n_entities=ORACLE_ENTITIES, seed=self.seed)
        rec = conversation_records(t).localCheckpoint(eager=True)
        cfg = linkage_config(self.work / "oracle", ["transcripts"])
        run = self._run_linkage(cfg, {"transcripts": rec})
        ours = {
            r["conv_id"]: r["EntityId"]
            for r in run.links.join(rec.select("EventId", "conv_id"), "EventId").collect()
        }
        records = [
            r.asDict()
            for r in rec.select("conv_id", "firstname", "lastname", "birthdate")
            .orderBy("conv_id").collect()
        ]
        want = oracle.sequential_linkage(
            records,
            list(cfg.criteria),
            append_to_spine=True,
            construct_entityid_from=list(cfg.construct_entityid_from),
            spine_columns=list(cfg.spine_columns),
        )
        f1 = oracle.pairwise_f1({k: v[0] for k, v in want.links.items()}, ours)
        shutil.rmtree(self.work / "oracle", ignore_errors=True)
        verdict = f"pairwise F1 {f1:.4f} vs the sequential oracle, {len(ours)}/{len(records)} linked"
        if f1 < ORACLE_MIN_F1 or len(ours) < 0.95 * len(records):
            raise RuntimeError(f"oracle self-check failed: {verdict}")
        print(f"oracle self-check: {verdict}", flush=True)

    def cleanup(self, handle) -> None:
        self.spark.catalog.clearCache()

    def _check_links(self, run, records: DataFrame, labels: DataFrame, new: str | None) -> Check:
        links, spine = run.links, run.spine
        max_per_event = links.groupBy("EventId").count().agg(F.max("count")).first()[0] or 0
        orphans = links.join(spine.select("EntityId").distinct(), "EntityId", "left_anti").count()
        fp = partition_fingerprint(links)
        items = links.join(records, "EventId").join(labels, "conv_id")
        f1 = pair_counts_f1(items, "gt_entity", "EntityId", new)["f1"]
        same = self._same_fingerprint(fp)
        ok = max_per_event <= 1 and orphans == 0 and same
        detail = (
            f"links={fp[0]} entities={fp[1]} max_links_per_record={max_per_event} "
            f"orphan_links={orphans} fingerprint={fp[2]:x}.{fp[3]:x} repeat_ok={same}"
        )
        return Check(ok, f1, detail)


class Bootstrap(_Linkage):
    def generate(self) -> None:
        t, labels = synthesize_transcripts(self.spark, n_entities=BOOTSTRAP_ENTITIES, seed=self.seed)
        t.write.mode("overwrite").parquet(str(self.work / "in" / "transcripts"))
        labels.write.mode("overwrite").parquet(str(self.work / "in" / "labels"))

    def prepare(self) -> None:
        self.labels = self.spark.read.parquet(str(self.work / "in" / "labels"))
        self.n_items = self.labels.count()
        self.oracle_self_check()

    def op(self, i: int):
        rec = self._records(self.work / "in" / "transcripts", "transcripts")
        cfg = linkage_config(self.work / f"op{i}", ["transcripts"])
        return self._run_linkage(cfg, {"transcripts": rec}), rec

    def check(self, handle) -> Check:
        run, rec = handle
        return self._check_links(run, rec.select("EventId", "conv_id"), self.labels, None)

    def cleanup(self, handle) -> None:
        if handle is not None:
            shutil.rmtree(handle[0].output_directory, ignore_errors=True)
        super().cleanup(handle)


class Incremental(_Linkage):
    def generate(self) -> None:
        n = INCR_BASE_ENTITIES + INCR_NEW_ENTITIES
        t, labels = synthesize_transcripts(self.spark, n_entities=n, seed=self.seed)
        # conv_id = c<entity:07d>_<k>; conversation 0 carries the
        # entity's canonical identity
        entity = F.substring("conv_id", 2, 7).cast("long")
        k = F.substring_index("conv_id", "_", -1).cast("int")
        held = (k >= 1) & (
            F.pmod(F.xxhash64(F.lit(self.seed), F.lit("batch"), "conv_id"), F.lit(INCR_HOLDBACK))
            == 0
        )
        in_batch = (entity >= INCR_BASE_ENTITIES) | held
        t.filter(~in_batch).write.mode("overwrite").parquet(str(self.work / "in" / "base"))
        t.filter(in_batch).write.mode("overwrite").parquet(str(self.work / "in" / "batch"))
        labels.write.mode("overwrite").parquet(str(self.work / "in" / "labels"))

    def prepare(self) -> None:
        """Warm up, then link the base corpus into the checkpointed
        spine that every timed call resumes from."""
        self.labels = self.spark.read.parquet(str(self.work / "in" / "labels"))
        self.oracle_self_check()
        self.out = self.work / "run"
        self.base_rec = conversation_records(
            self.spark.read.parquet(str(self.work / "in" / "base")), tablename="base"
        ).localCheckpoint(eager=True)
        rl.run_linkage(self.spark, linkage_config(self.out, ["base"]), {"base": self.base_rec})
        self.manifest = self.out / "checkpoints" / "manifest.json"
        self.base_manifest = self.manifest.read_text()
        self.n_items = self.spark.read.parquet(str(self.work / "in" / "batch")).select(
            "conv_id"
        ).distinct().count()

    def op(self, i: int):
        # every call resumes from the same base checkpoint, so calls do
        # equal work: stage 1 (the batch) is linked and written again
        self.manifest.write_text(self.base_manifest)
        rec = self._records(self.work / "in" / "batch", "batch")
        cfg = linkage_config(self.out, ["base", "batch"])
        return self._run_linkage(cfg, {"base": self.base_rec, "batch": rec}, resume=True), rec

    def check(self, handle) -> Check:
        run, rec = handle
        records = self.base_rec.select("EventId", "conv_id", F.lit(False).alias("new")).unionByName(
            rec.select("EventId", "conv_id", F.lit(True).alias("new"))
        )
        return self._check_links(run, records, self.labels, "new")


class Dedup(Workload):
    """Near-duplicate clustering of one corpus by both clusterers:
    ``neardup_clusters`` over all ``NEARDUP_DOCS`` documents, then
    ``simhash_clusters`` over the first ``SIMHASH_DOCS`` of them (the
    SimHash signature costs ~10x more per document)."""

    def _docs(self, n_docs: int) -> DataFrame:
        """Families of ``FAMILY`` consecutive ids share 40 seeded words
        and each document adds 1-8 words of its own."""
        cores = self.spark.sparkContext.defaultParallelism
        ids = self.spark.range(n_docs, numPartitions=cores).select(F.col("id").alias("doc_id"))
        fam = (F.col("doc_id") - F.col("doc_id") % FAMILY).cast("string")
        seed = F.lit(f"{self.seed}:")

        def word(*parts):
            return F.substring(F.md5(F.concat(seed, *parts)), 1, 6)

        base_words = F.transform(
            F.sequence(F.lit(1), F.lit(40)), lambda i: word(fam, F.lit("w"), i.cast("string"))
        )
        own_words = F.transform(
            F.sequence(F.lit(1), (F.col("doc_id") % 8 + 1).cast("int")),
            lambda i: word(F.col("doc_id").cast("string"), F.lit("x"), i.cast("string")),
        )
        return ids.select(
            "doc_id", F.array_join(F.concat(base_words, own_words), " ").alias("text")
        )

    def generate(self) -> None:
        # the SimHash input is the corpus's first SIMHASH_DOCS documents,
        # written as its own table so it is spread over every core
        self._docs(NEARDUP_DOCS).write.mode("overwrite").parquet(str(self.work / "in" / "docs"))
        self._docs(SIMHASH_DOCS).write.mode("overwrite").parquet(str(self.work / "in" / "sample"))

    def prepare(self) -> None:
        """Warm up with one operation, checked like any other."""
        self.n_items = NEARDUP_DOCS + SIMHASH_DOCS
        self.check(self.op(0))
        self.cleanup(self.work / "op0")

    def op(self, i: int):
        out = self.work / f"op{i}"
        docs = self.spark.read.parquet(str(self.work / "in" / "docs"))
        with patched(self.tracer):
            self._neardup(docs).write.parquet(str(out / "neardup"))
            self.spark.catalog.clearCache()
            sample = self.spark.read.parquet(str(self.work / "in" / "sample"))
            self._simhash(sample).write.parquet(str(out / "simhash"))
        return out

    def _neardup(self, docs: DataFrame) -> DataFrame:
        if self.tracer.enabled:
            # LSH candidates before verification, for lsh_pairs.verify_ratio
            self.tracer.aux["lsh_candidates"] += self.tracer.count(dedup.minhash_lsh_pairs(docs))
            self.spark.catalog.clearCache()
        return dedup.neardup_clusters(docs)

    def _simhash(self, docs: DataFrame) -> DataFrame:
        if self.tracer.enabled:
            # the signature alone, as simhash_dedup computes it; traced
            # runs pay it once more inside simhash_pairs
            with self.tracer.span("simhash_sig"):
                sig = widen_if_narrow(
                    docs.select(F.col("doc_id").alias("id"), F.col("text").alias("_t"))
                ).select("id", dedup.simhash(F.col("_t")).alias("sh"))
                sig = sig.localCheckpoint(eager=True)
            self.tracer.record_rows("simhash_sig", sig)
        return dedup.simhash_clusters(docs, max_hamming=3)

    def _check_families(self, path: Path, n_docs: int) -> tuple[bool, float, tuple, str]:
        res = self.spark.read.parquet(str(path)).withColumn(
            "family", F.col("doc_id") - F.col("doc_id") % FAMILY
        )
        n = res.count()
        c = pair_counts_f1(res, "family", "cluster_id")
        n_fam = n_docs // FAMILY
        ok = n == n_docs and c["cells"] == c["truth_groups"] == c["pred_groups"] == n_fam
        detail = f"{path.name}: docs={n} families={c['truth_groups']}/{n_fam} clusters={c['pred_groups']}"
        return ok, c["f1"], (n, c["cells"], c["truth_groups"], c["pred_groups"]), detail

    def check(self, handle) -> Check:
        """Both clusterings must equal the generated families exactly."""
        ok1, f1a, fp1, d1 = self._check_families(handle / "neardup", NEARDUP_DOCS)
        ok2, f1b, fp2, d2 = self._check_families(handle / "simhash", SIMHASH_DOCS)
        same = self._same_fingerprint(fp1 + fp2)
        return Check(ok1 and ok2 and same, min(f1a, f1b),
                     f"{d1}; {d2}; repeat_ok={same}")


WORKLOADS = {
    "bootstrap": Bootstrap,
    "incremental": Incremental,
    "dedup": Dedup,
}
