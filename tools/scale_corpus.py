"""Deterministic synthetic corpora for one-decade scaling evidence
(VERDICT r3 task 8). Generates events/documents/embeddings tables with
the same schemas, cardinality ratios and value distributions as the
driver's sf0.1 corpus (measured: documents 10-100 tokens avg 54 from a
31-word vocab, 5 langs, 20 sources; embeddings 64-dim floats in
[-0.4, 0.4], label 0-9) at an arbitrary multiplier, so the SAME
generator produces an x1 and an x10 corpus and wall-time ratios
measure data scaling, not distribution drift.

Everything is Spark-side expression codegen over spark.range — no
driver loops, no Python UDFs — with md5-derived pseudo-randomness, so
generation itself scales and is bit-reproducible.

Usage: python tools/scale_corpus.py OUT_DIR MULTIPLIER
"""

from __future__ import annotations

import json
import os
import sys

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# Bump on ANY change to the generated distributions. ensure_corpus
# (tools/scale_bench.py) regenerates a corpus whose on-disk marker
# doesn't match (ADVICE r4: reuse was gated on file existence alone,
# so a generator change silently fed stale corpora into the published
# scaling numbers).
GENERATOR_VERSION = 3

# sf0.1 base cardinalities (TESTDATA corpus, measured)
BASE_EVENTS = 100_000
BASE_DOCS = 5_000
BASE_VECS = 2_000

# Vocabulary grows with the corpus (Heaps' law: V ~ sqrt(N)), anchored
# at the driver corpus's 31 distinct words for the x1 scale. A FIXED
# vocabulary at growing N is a trap this harness hit at x100: with 31
# words and 500k docs, SimHash band buckets go pathologically hot and
# the true near-dup pair count itself grows ~quadratically (measured
# 23x pairs for 10x docs) — 40 GB of candidate shuffle spill. Real
# text corpora add vocabulary as they grow; the generator must too, or
# the "scaling" measurement measures corpus degeneracy instead.
BASE_VOCAB = 31
LANGS = ["en", "es", "de", "fr", "zh"]
EVENT_TYPES = ["view", "click", "error", "purchase", "login"]


def _h(tag: str, *cols: Column) -> Column:
    """32-bit integer hash of (tag, cols...) — the generator's PRNG."""
    return F.conv(
        F.substring(F.md5(F.concat_ws("_", F.lit(tag), *cols)), 1, 8), 16, 10
    ).cast("bigint")


def gen_events(spark: SparkSession, n: int) -> DataFrame:
    ids = spark.range(n).withColumnRenamed("id", "event_id")
    h = _h("ev", F.col("event_id"))
    return ids.select(
        "event_id",
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(secs=F.col("event_id") * F.lit(40.0) / F.lit(69.0))
        ).alias("ts"),
        (h % 2000).alias("user_id"),
        F.element_at(
            F.array(*[F.lit(t) for t in EVENT_TYPES]), (h % 5 + 1).cast("int")
        ).alias("event_type"),
        F.round((h % 56022) / 1e2, 2).alias("value"),
        F.concat(F.lit('{"k": '), (h % 100).cast("string"), F.lit("}")).alias("props"),
    )


def gen_documents(spark: SparkSession, n: int) -> DataFrame:
    import math

    vocab_size = max(BASE_VOCAB, int(BASE_VOCAB * math.sqrt(n / BASE_DOCS)))
    ids = spark.range(n).withColumnRenamed("id", "doc_id")
    n_toks = (_h("dlen", F.col("doc_id")) % 91 + 10).cast("int")
    toks = F.transform(
        F.sequence(F.lit(1), n_toks),
        lambda i: F.concat(
            F.lit("w"), (_h("dtok", F.col("doc_id"), i) % vocab_size).cast("string")
        ),
    )
    text = F.concat_ws(" ", toks)
    return ids.select(
        "doc_id",
        text.alias("text"),
        F.element_at(
            F.array(*[F.lit(lg) for lg in LANGS]),
            (_h("dlang", F.col("doc_id")) % 5 + 1).cast("int"),
        ).alias("lang"),
        F.concat(F.lit("src"), (_h("dsrc", F.col("doc_id")) % 20).cast("string")).alias(
            "source"
        ),
        F.length(text).cast("long").alias("n_chars"),
    )


def gen_embeddings(spark: SparkSession, n: int) -> DataFrame:
    ids = spark.range(n).withColumnRenamed("id", "vec_id")
    vec = F.transform(
        F.sequence(F.lit(1), F.lit(64)),
        lambda i: (
            (_h("emb", F.col("vec_id"), i) % 800001) / F.lit(1e6) - F.lit(0.4)
        ).cast("float"),
    )
    return ids.select(
        "vec_id",
        vec.alias("embedding"),
        (_h("elab", F.col("vec_id")) % 10).cast("int").alias("label"),
    )


ALL_TABLES = ("events", "documents", "embeddings", "nation")


def marker(mult: int, tables: tuple[str, ...]) -> dict:
    return {
        "generator_version": GENERATOR_VERSION,
        "mult": mult,
        "tables": sorted(tables),
        "base": {"events": BASE_EVENTS, "docs": BASE_DOCS, "vecs": BASE_VECS},
    }


def generate(
    spark: SparkSession, out_dir: str, mult: int, tables: tuple[str, ...] = ALL_TABLES
) -> None:
    """Write the requested tables, then a corpus_meta.json marker with
    the generator version/parameters — written LAST, so a crashed or
    interrupted generation never leaves a validly-marked corpus.

    A directory with no marker at all is only written if it holds none
    of the requested tables: pointed at a real corpus (a test SF dir),
    the overwrite would replace its tables with synthetic ones. A
    placeholder marker goes down first, so an interrupted generation
    can still be regenerated."""
    meta_path = os.path.join(out_dir, "corpus_meta.json")
    if not os.path.exists(meta_path):
        theirs = [t for t in tables if os.path.exists(f"{out_dir}/{t}.parquet")]
        if theirs:
            raise ValueError(
                f"{out_dir} holds {theirs} but no corpus_meta.json: not a "
                "generated corpus, refusing to overwrite it"
            )
        os.makedirs(out_dir, exist_ok=True)
        with open(meta_path, "w") as f:
            json.dump({"generator_version": None}, f)
    if "events" in tables:
        gen_events(spark, BASE_EVENTS * mult).write.mode("overwrite").parquet(
            f"{out_dir}/events.parquet"
        )
    if "documents" in tables:
        gen_documents(spark, BASE_DOCS * mult).write.mode("overwrite").parquet(
            f"{out_dir}/documents.parquet"
        )
    if "embeddings" in tables:
        gen_embeddings(spark, BASE_VECS * mult).write.mode("overwrite").parquet(
            f"{out_dir}/embeddings.parquet"
        )
    if "nation" in tables:
        # nation feeds the all_stations dimension — copy the real one
        spark.read.parquet("/root/testdata/sf0.1/nation.parquet").write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/nation.parquet")
    with open(os.path.join(out_dir, "corpus_meta.json"), "w") as f:
        json.dump(marker(mult, tables), f, indent=1)


def ensure_corpus(
    spark: SparkSession, out_dir: str, mult: int, tables: tuple[str, ...] = ALL_TABLES
) -> bool:
    """Generate unless the on-disk marker matches this generator's
    version + parameters and covers the requested tables. When the
    marker matches but some requested tables are missing, generate
    ONLY those and extend the marker (round 7: the x1000 corpus grew
    events+nation for the level-pipeline decade — regenerating its 5M
    docs + 2M vectors to add them would be pure waste; per-table
    generation is deterministic, so an extended corpus is
    bit-identical to a from-scratch one). Returns True if anything
    was (re)generated."""
    meta_path = os.path.join(out_dir, "corpus_meta.json")
    try:
        with open(meta_path) as f:
            have = json.load(f)
        want = marker(mult, tables)
        same_gen = (
            have.get("generator_version") == want["generator_version"]
            and have.get("mult") == want["mult"]
            and have.get("base") == want["base"]
        )
        if same_gen and set(tables) <= set(have.get("tables", [])):
            return False
        if same_gen:
            missing = tuple(t for t in tables if t not in have.get("tables", []))
            generate(spark, out_dir, mult, missing)
            with open(meta_path, "w") as f:
                json.dump(
                    # .get: a same-generator marker missing its tables
                    # key must degrade like any other corrupt marker
                    # (ADVICE r7), not raise KeyError mid-extension
                    marker(mult, tuple(set(have.get("tables", [])) | set(tables))),
                    f,
                    indent=1,
                )
            return True
    except (OSError, ValueError):
        pass
    generate(spark, out_dir, mult, tables)
    return True


if __name__ == "__main__":
    sys.path.insert(0, ".")
    from cosmoz_data_pipeline_spark.session import build_session

    out, mult = sys.argv[1], int(sys.argv[2])
    s = build_session(app_name="scale-corpus")
    s.sparkContext.setLogLevel("ERROR")
    generate(s, out, mult)
    print(f"wrote x{mult} corpus to {out}")
