"""The corpus-ops batch: exact_dedup → minhash_lsh_pairs → dup_clusters →
predict_lang_ct → quality_features, each step ending in an action, and
its correctness gate."""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
import pyspark.sql.functions as F

from ethos_spark.ops.dedup import dup_clusters, exact_dedup, minhash_lsh_pairs
from ethos_spark.ops.langid import predict_lang_ct
from ethos_spark.ops.textstats import quality_features

from perfbench.common import median
from perfbench.trace import Tracer


@dataclass
class OpsResult:
    keep_ids: set[int]
    groups: int
    pairs: int
    cluster_of: dict[int, int]
    langs: dict[str, int]
    quality_rows: int


def write_docs(spark, docs: list[tuple[int, str]], path: str) -> None:
    spark.createDataFrame(
        pd.DataFrame(docs, columns=["id", "text"]), "id long, text string"
    ).write.parquet(path)


def pipeline(spark, docs_path: str, tracer: Tracer) -> OpsResult:
    # drop cached relations of the previous pass: equal plans would
    # otherwise be served from Spark's cache instead of recomputed
    spark.catalog.clearCache()
    df = spark.read.parquet(docs_path)
    with tracer.span("ops.exact_dedup"):
        groups = exact_dedup(df, "id", "text").collect()
    keep_ids = {g.keep_id for g in groups}
    keep = spark.createDataFrame([(k,) for k in sorted(keep_ids)], "id long")
    kept = df.join(F.broadcast(keep), "id")
    with tracer.span("ops.minhash_lsh"):
        pairs = minhash_lsh_pairs(kept, "id", "text").cache()
        n_pairs = pairs.count()
    with tracer.span("ops.dup_clusters"):
        clusters = dup_clusters(pairs).collect()
    cluster_of = {c.doc_id: c.cluster_id for c in clusters}
    dups = spark.createDataFrame(
        [(d,) for d, c in cluster_of.items() if d != c], "id long"
    )
    survivors = kept.join(F.broadcast(dups), "id", "left_anti")
    with tracer.span("ops.langid"):
        langs = predict_lang_ct(survivors).groupBy("lang_ct").count().collect()
    with tracer.span("ops.quality"):
        q = quality_features(survivors).agg(
            F.count("*").alias("n"), F.avg("quality_score").alias("avg")
        ).collect()[0]
    pairs.unpersist()
    return OpsResult(
        keep_ids, len(groups), n_pairs, cluster_of,
        {r.lang_ct: r["count"] for r in langs}, q.n,
    )


def check(res: OpsResult, docs: list[tuple[int, str]], near: dict[int, int],
          exact: dict[int, int]) -> list[str]:
    """Every planted near-duplicate lands in its original's cluster, every
    planted exact copy folds into its original's group, and the
    exact_dedup group count equals a count made independently (duckdb)."""
    import duckdb

    bad: list[str] = []
    for c, o in near.items():
        if c not in res.cluster_of or res.cluster_of.get(c) != res.cluster_of.get(o):
            bad.append(f"near-dup {c} not clustered with {o}")
    for c, o in exact.items():
        if c in res.keep_ids or o not in res.keep_ids:
            bad.append(f"exact copy {c} not folded into {o}")
    frame = pd.DataFrame(docs, columns=["id", "text"])  # noqa: F841 (duckdb scans it)
    want = duckdb.sql(
        "select count(distinct trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"
        " from frame"
    ).fetchone()[0]
    if res.groups != want:
        bad.append(f"exact_dedup groups {res.groups} != independent count {want}")
    if sum(res.langs.values()) != res.quality_rows:
        bad.append("langid and quality saw different survivor counts")
    return bad


STEPS = ("exact_dedup", "minhash_lsh", "dup_clusters", "langid", "quality")


def layers(spark, docs_path: str, tracer: Tracer, res: OpsResult) -> dict[str, float]:
    """Median traced time per step, and how many LSH candidate pairs the
    exact-Jaccard verify kept (a threshold of 0 keeps every candidate)."""
    m = {f"ops.{s}_s": median(tracer.durations(f"ops.{s}")) for s in STEPS}
    keep = spark.createDataFrame([(k,) for k in sorted(res.keep_ids)], "id long")
    kept = spark.read.parquet(docs_path).join(F.broadcast(keep), "id")
    with tracer.span("ops.candidates"):
        m["ops.candidate_pairs"] = minhash_lsh_pairs(kept, "id", "text", threshold=0.0).count()
    m["ops.verified_pairs"] = res.pairs
    return m
