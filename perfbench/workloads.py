"""The benchmark pipelines and their output checks.

Pipeline functions call only the public ``pydi_spark`` API, each call
wrapped in ``tr.span(<layer>, ...)``, and return a plain dict of the
collected outputs. ``check`` functions are pure Python over that dict and
the generator's ``truth.json``, so a corrupted output can be tested
without Spark.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, replace
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pydi_spark.blocking import TokenBlocker
from pydi_spark.clustering import connected_components
from pydi_spark.evaluation import evaluate_blocking, evaluate_matching
from pydi_spark.functions.comparators import NumericComparator, StringComparator
from pydi_spark.fusion import DataFusionEngine, DataFusionStrategy
from pydi_spark.io import load_csv, load_json
from pydi_spark.llmdata import (
    canonical_corpus,
    clean_document_lines,
    decontaminate,
    exact_duplicates,
    minhash_near_duplicates,
    quality_filter,
    quality_scores,
    quality_weighted_sample,
)
from pydi_spark.matching import RuleBasedMatcher
from pydi_spark.normalization import apply_column_transforms
from pydi_spark.profiling import DataProfiler
from pydi_spark.schemamatching import LabelBasedSchemaMatcher
from pydi_spark.translation import MappingTranslator

# Floors on each quality metric; a pass below one fails its check.
FLOORS = {
    "blocking_pc": 0.8,
    "match_f1": 0.6,
    "fusion_accuracy": 0.6,
    "dedup_recall": 0.7,
    "dedup_precision": 0.6,
    "dedup_f1": 0.6,
    "contamination_f1": 0.7,
}


def _digest_value(v):
    # Doubles count to 9 significant digits: Spark's floating aggregates
    # (e.g. the stddev_pop behind the average resolver's confidence) merge
    # partial results in task-completion order, so their last bits vary
    # from pass to pass.
    if isinstance(v, float):
        return f"{v:.9g}"
    if isinstance(v, list):
        return [_digest_value(x) for x in v]
    return v


def collect_digest(df: DataFrame) -> tuple[str, list[dict]]:
    """Collect a frame; return an order-independent digest of its rows
    (md5 over the sorted JSON renderings) and the rows themselves."""
    rows = [r.asDict() for r in df.collect()]
    text = "\n".join(sorted(
        json.dumps({k: _digest_value(v) for k, v in r.items()}, sort_keys=True, default=str)
        for r in rows))
    return hashlib.md5(text.encode()).hexdigest()[:16], rows


def _pair_scores(pred: set, truth: set) -> tuple[float, float]:
    hit = len(pred & truth)
    return (hit / len(truth) if truth else 0.0), (hit / len(pred) if pred else 0.0)


def _common_checks(out: dict, reference: dict | None) -> list[str]:
    bad = []
    for k, v in out["quality"].items():
        if not 0.0 < v < 1.0:
            bad.append(f"{k}={v} not strictly between 0 and 1")
        if v < FLOORS[k]:
            bad.append(f"{k}={v} below floor {FLOORS[k]}")
    if reference is not None:
        if out["digest"] != reference["digest"]:
            bad.append(f"digest {out['digest']} != {reference['digest']}")
        if out["quality"] != reference["quality"]:
            bad.append(f"quality {out['quality']} != {reference['quality']}")
    return bad


# ----------------------------------------------------------------- er_batch

LEFT_SCHEMA = "id string, name string, city string, price double"
NORMALIZE = {"name": ["lower", "normalize_whitespace"], "city": ["lower", "strip"],
             "price": ["to_numeric"]}


def er_batch(spark, tr, d: str) -> dict:
    left, right, gold = tr.span("io", lambda: (
        load_csv(spark, f"{d}/left.csv", "left", schema=LEFT_SCHEMA, trust_score=0.8),
        load_csv(spark, f"{d}/right.csv", "right", infer_schema=False, trust_score=0.6),
        load_csv(spark, f"{d}/gold.csv", "gold",
                 schema="id1 string, id2 string, label int").df,
    ))
    profiles = tr.span("profiling", lambda: [DataProfiler().summary(s) for s in (left, right)])
    mapping = tr.span("schemamatching", lambda: LabelBasedSchemaMatcher().match(
        right, left, threshold=0.5))
    right = tr.span("translation", lambda: MappingTranslator().translate(right, mapping))
    left, right = tr.span("normalization", lambda: (
        apply_column_transforms(left, NORMALIZE), apply_column_transforms(right, NORMALIZE)))
    left, right = (replace(ds, id_column="id") for ds in (left, right))
    cands = tr.span("blocking", lambda: TokenBlocker(column="name").block(left, right))
    matcher = RuleBasedMatcher(comparators=[
        (StringComparator("name", "levenshtein"), 0.6),
        (StringComparator("city", "identity"), 0.15),
        (NumericComparator("price", max_difference=150.0), 0.25),
    ])
    corr = tr.span("matching", lambda: matcher.match(
        left, right, cands, threshold=0.78).localCheckpoint(eager=True))
    clusters = tr.span("clustering", lambda: connected_components(corr.select("id1", "id2")))
    strategy = (DataFusionStrategy()
                .add_attribute_fuser("name", "longest_string")
                .add_attribute_fuser("city", "prefer_higher_trust")
                .add_attribute_fuser("price", "average"))
    members = clusters.select(F.col("record_id").alias("id1"), F.col("cluster_id").alias("id2"))
    fused = tr.span("fusion", lambda: DataFusionEngine(strategy, include_singletons=False)
                    .run([left, right], members))

    def evaluate():
        n_left, n_right = (p["rows"] for p in profiles)
        b = evaluate_blocking(cands, gold.where("label = 1"), n_left, n_right,
                              candidates_distinct=True).first()
        m = evaluate_matching(corr, gold).first()
        return {"blocking_pc": b["pair_completeness"], "match_f1": m["f1"],
                "counts": {"candidates": b["total_candidates"],
                           "gold_pairs": b["total_true_pairs"],
                           "gold_pairs_found": b["true_positives_found"],
                           "correspondences": corr.count()}}

    ev = tr.span("evaluation", evaluate)
    dig, rows = collect_digest(fused)
    return {"digest": dig, "counts": ev.pop("counts"), "quality": ev,
            "fused": [[r["_fusion_group_id"], r["name"], r["city"], r["price"]] for r in rows]}


def score_er_batch(out: dict, truth: dict) -> dict:
    """Fusion accuracy: attribute values of each fused entity that match
    the generator's entity (prices within 3%) over values compared. A
    cluster's id is its smallest record id, so a left id when it has one."""
    want = {e[0]: e[1:] for e in truth["entities"]}
    n = ok = 0
    for gid, *vals in out["fused"]:
        if gid not in want:
            continue
        name, city, price = want[gid]
        n += 3
        ok += (vals[0] == name) + (vals[1] == city)
        ok += vals[2] is not None and abs(vals[2] - price) <= 0.03 * max(abs(price), 1e-12)
    return {"fusion_accuracy": ok / n if n else 0.0}


def check_er_batch(out: dict, truth: dict, reference: dict | None) -> list[str]:
    bad = _common_checks(out, reference)
    if out["counts"]["gold_pairs"] != truth["n_gold_pos"]:
        bad.append(f"gold pairs {out['counts']['gold_pairs']} != {truth['n_gold_pos']}")
    return bad


# ------------------------------------------------------------- corpus_batch


def corpus_batch(spark, tr, d: str) -> dict:
    docs, evals = tr.span("io", lambda: (
        load_json(spark, f"{d}/docs.jsonl", "docs", multiline=False).df,
        load_json(spark, f"{d}/eval.jsonl", "eval", multiline=False).df,
    ))
    cleaned = tr.span("llmdata.cleaning", lambda: clean_document_lines(
        docs, max_line_doc_frequency=10).select("doc_id", F.col("clean_text").alias("text")))

    def gate():
        keep = quality_filter(cleaned).where("keep").select("doc_id")
        return cleaned.join(keep, "doc_id", "left_semi").localCheckpoint(eager=True)

    kept = tr.span("llmdata.textstats", gate)

    def dedup():
        exact = exact_duplicates(kept).groupBy("content_hash").count().where("count > 1")
        pairs = minhash_near_duplicates(kept, jaccard_threshold=0.7).localCheckpoint(eager=True)
        canon = canonical_corpus(kept, pairs).where("is_canonical").drop(
            "canonical_id", "is_canonical")
        return exact.count(), pairs, canon.localCheckpoint(eager=True)

    n_exact, pairs, canon = tr.span("llmdata.dedup", dedup)

    def decon():
        flags = decontaminate(canon, evals, n=8, threshold=0.05).localCheckpoint(eager=True)
        clean = canon.join(flags.where("is_contaminated").select("doc_id"), "doc_id",
                           "left_anti")
        return flags.where("is_contaminated").select("doc_id"), clean

    flagged, clean = tr.span("llmdata.cleaning", decon)
    weighted = tr.span("llmdata.textstats", lambda: quality_scores(clean).select(
        "doc_id", "text", F.col("quality_score").alias("w")))
    sample = tr.span("llmdata.sampling", lambda: quality_weighted_sample(
        weighted, "w", "doc_id", target_fraction=0.8).where("selected").select("doc_id"))
    pairs = sorted([r["id1"], r["id2"]] for r in pairs.collect())
    kept = sorted(r["doc_id"] for r in kept.select("doc_id").collect())
    return {
        "digest": collect_digest(sample)[0],
        "pairs": pairs,
        "flagged": sorted(r["doc_id"] for r in flagged.collect()),
        "kept": kept,
        "exact_groups": n_exact,
        "counts": {"dup_pairs": len(pairs), "dedup_docs": len(kept)},
    }


def _f1(recall: float, precision: float) -> float:
    return 2 * recall * precision / (recall + precision) if recall + precision else 0.0


def score_corpus_batch(out: dict, truth: dict) -> dict:
    """Dedup scores over planted duplicate pairs; contamination F1 over
    every document a passage was planted in, so flagging clean documents
    lowers it as much as missing contaminated ones."""
    pred = {tuple(p) for p in out["pairs"]}
    recall, precision = _pair_scores(pred, {tuple(p) for p in truth["dup_pairs"]})
    c_recall, c_precision = _pair_scores(set(out["flagged"]), set(truth["contaminated_all"]))
    return {"dedup_recall": recall, "dedup_precision": precision,
            "dedup_f1": _f1(recall, precision), "contamination_f1": _f1(c_recall, c_precision)}


def check_corpus_batch(out: dict, truth: dict, reference: dict | None) -> list[str]:
    bad = _common_checks(out, reference)
    if out["exact_groups"] != truth["exact_groups"]:
        bad.append(f"exact groups {out['exact_groups']} != {truth['exact_groups']}")
    full = set(truth["contaminated_full"])
    if len(full & set(out["flagged"])) != len(full):
        bad.append(f"flagged {len(full & set(out['flagged']))} of {len(full)} planted docs")
    kept = set(out["kept"])
    if kept & set(truth["low_quality"]):
        bad.append("low-quality documents survived the quality filter")
    planted = {i for p in truth["dup_pairs"] for i in p}
    if planted - kept:
        bad.append(f"{len(planted - kept)} planted duplicates lost before dedup")
    return bad


@dataclass(frozen=True)
class Workload:
    run: Callable  # (spark, tracer, data_dir) -> outputs
    score: Callable  # (outputs, truth) -> the quality metrics that need the truth
    check: Callable  # (outputs, truth, reference outputs | None) -> failures


WORKLOADS = {
    "er_batch": Workload(er_batch, score_er_batch, check_er_batch),
    "corpus_batch": Workload(corpus_batch, score_corpus_batch, check_corpus_batch),
}
