"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the SQL-expressible operator surface of goribot_spark
(SURVEY.md §2: anti-join dedup, window budgets, first-wins dedup, groupBy
metrics, joins, retry routing) over the driver's TPC-H-ish tables, plus the
training-data pipeline operators (exact/MinHash/n-gram dedup, text features,
ANN similarity) over ``documents``/``embeddings``. Each has a DuckDB oracle
in ``oracle_sql()`` with byte-matching column aliases — including the
LSH/simhash paths, whose md5-derived band/bucket math is deterministic and
reproduced in DuckDB bit-for-bit. The crawl superstep engine itself
(iterative state) is exercised by pytest + bench.py on the synthetic web
fixtures.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from goribot_spark.functions.dedup import (
    LSH_BUCKET_CAP,
    LSH_CHAIN_SEG,
    connected_components,
    exact_dup_groups,
    minhash_near_dups,
    minhash_signature,
    phash_near_dups,
    simhash_near_dups,
    with_simhash,
)
from goribot_spark.functions.multimodal import render_fingerprint_images
from goribot_spark.functions.similarity import (
    ann_topk_ivf,
    ann_topk_lsh,
    as_double,
    cosine_topk,
    embedding_near_dups,
    embedding_near_dups_exact,
)
from goribot_spark.functions.sampling import cap_per_source, hash_split
from goribot_spark.functions.text import (
    bpe_ish_token_count,
    fingerprint,
    lang_id,
    quality_score,
    shingles_from_tokens,
    token_count,
    tokens,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Crawl-relational operators on the TPC-H-ish tables
# ---------------------------------------------------------------------------


def q_pricing_summary(spark, sf_dir):
    """A1 metrics-aggregation shape (TPC-H Q1-like): map-side partial aggs."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_topk_per_user(spark, sf_dir):
    """O3/T1 politeness-budget shape: top-3 rows per key by window row_number."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("user_id", "event_id", "rn")
    )


def q_customers_without_orders(spark, sf_dir):
    """J1/F6 seen-set shape: left_anti join (dedup probe)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o.select("o_custkey"), c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


def q_event_dedup_first(spark, sf_dir):
    """F7 intra-wave first-wins dedup: min id per (user, type) group."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id", "event_type").agg(
        F.min("event_id").alias("first_event_id"), F.count(F.lit(1)).alias("n_dups")
    )


def q_status_routing(spark, sf_dir):
    """F9/R2 retry-routing shape: conditional split counts per class."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.sum((F.col("value") < 150).cast("long")).alias("n_ok"),
        F.sum((F.col("value") >= 150).cast("long")).alias("n_retry"),
        F.round(F.avg("value"), 4).alias("avg_value"),
    )


def q_orders_by_nation(spark, sf_dir):
    """J2/J5 fetch-join shape: fact ⋈ dim ⋈ dim with broadcast dims."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
    )


def q_priority_histogram(spark, sf_dir):
    """O1 priority-ordering shape: histogram over the priority column."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n"))


def q_hourly_wave_metrics(spark, sf_dir):
    """A1/A2 throughput-metrics shape: per-window counts + distincts."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("hr", F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH"))
        .groupBy("hr")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


# ---------------------------------------------------------------------------
# Training-data pipeline operators (documents / embeddings)
# ---------------------------------------------------------------------------


def q_doc_tokens(spark, sf_dir):
    """Token counting, both grains: whitespace tokens and the BPE-ish
    sub-word estimate (letter<->digit boundary splits) — all JVM regex
    expressions, no Python in the path."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"),
        F.col("n_chars"),
    )


def q_doc_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint(F.col("text")).alias("fp"))


def q_doc_quality(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", quality_score(F.col("text")).alias("quality"))


def q_doc_lang(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", lang_id(F.col("text")).alias("lang_pred"))


def q_dedup_prefix_groups(spark, sf_dir):
    """Exact dedup on an 8-token prefix fingerprint (boilerplate dedup)."""
    d = _t(spark, sf_dir, "documents")
    fp8 = F.md5(F.concat_ws(" ", F.slice(tokens(F.col("text")), 1, 8)))
    return (
        d.select("doc_id", fp8.alias("fp8"))
        .groupBy("fp8")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("canonical_id"))
        .where(F.col("n_dups") > 1)
    )


def q_minhash_sig_groups(spark, sf_dir):
    """MinHash full-signature equality groups (16 portable md5-derived
    hashes): the exact-collision core of MinHash dedup, oracle-checkable."""
    d = _t(spark, sf_dir, "documents")
    sigd = minhash_signature(
        d.select("doc_id", "text"), num_hashes=16, shingle_n=3, id_col="doc_id"
    )
    key = F.concat_ws(",", *[F.col("sig")[i].cast("string") for i in range(16)])
    return (
        sigd.select("doc_id", key.alias("sig_key"))
        .groupBy("sig_key")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("canonical_id"))
        .where(F.col("n_dups") > 1)
    )


# Self-join buckets larger than this are dropped from the fp8 candidate
# generator: on a real corpus a boilerplate prefix ("Terms of Service …")
# puts millions of docs in one bucket → a quadratic skew bomb. Overfull
# buckets are rare by construction (they ARE the skew), so the exclusion
# list broadcasts; near-dups inside them are still found by the MinHash-LSH
# path (q_minhash_lsh_pairs), whose banded join bounds every bucket.
FP8_BUCKET_CAP = 64


def q_ngram_jaccard_pairs(spark, sf_dir):
    """Exact n-gram Jaccard over prefix-fingerprint candidate pairs, with
    overfull buckets excluded (see FP8_BUCKET_CAP)."""
    d = _t(spark, sf_dir, "documents")
    # repartition: the shingle build is the scan-side cost; one input file
    # would otherwise pin it to a single task (see minhash_signature).
    # Token array bound in its own projection before the shingle lambda
    # (shingles_from_tokens: inline tokens() re-splits per shingle).
    toked = d.repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    ).select("doc_id", tokens(F.col("text")).alias("_toks"))
    sh = toked.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.slice(F.col("_toks"), 1, 8))).alias("fp8"),
        F.array_distinct(shingles_from_tokens(F.col("_toks"), 3)).alias("sh"),
    )
    over = (
        sh.groupBy("fp8")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > FP8_BUCKET_CAP)
        .select("fp8")
    )
    sh = sh.join(F.broadcast(over), "fp8", "left_anti")
    a = sh.select(
        F.col("fp8"), F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a")
    )
    b = sh.select(
        F.col("fp8"), F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b")
    )
    return (
        a.join(b, "fp8")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                4,
            ).alias("jaccard"),
        )
    )


def q_exact_dup_groups(spark, sf_dir):
    """Exact full-text dedup: hash-groupBy on the normalized-text md5
    fingerprint (empty at SFs without verbatim dups — the semantics, group
    size + canonical min-id, are what the oracle checks)."""
    d = _t(spark, sf_dir, "documents")
    return exact_dup_groups(d)


def q_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs — the first-class SCALE path: banded
    hyperplane LSH (2 independent tables — OR-construction recall) + a
    broadcast bucket cap + exact cosine verify on the distinct candidate
    pairs (equi-join on (table, bucket), never an all-pairs cross join). The
    md5-derived hyperplanes are deterministic, so the DuckDB oracle
    reproduces the exact candidate set and verdicts."""
    e = _t(spark, sf_dir, "embeddings")
    return embedding_near_dups(
        e, dim=64, threshold=0.45, num_planes=4, num_tables=2, bucket_cap=1024
    )


def q_embedding_neardup_exact_audit(spark, sf_dir):
    """Exact all-pairs baseline, capped to a deterministic 1/4 sample
    (vec_id % 4 == 0): the recall-audit twin of q_embedding_neardup. The
    cross join is intentional — it runs on the sampled subset only, never on
    the full corpus (no cartesian product in any default full-table plan)."""
    e = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") % 4 == 0)
    return embedding_near_dups_exact(e, threshold=0.45)


def q_ann_topk(spark, sf_dir):
    """Brute-force cosine top-5 for query vectors vec_id < 8."""
    e = _t(spark, sf_dir, "embeddings")
    return cosine_topk(e, e.where(F.col("vec_id") < 8), k=5)


def q_emb_norms(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    v = as_double(F.col("embedding"))
    norm = F.sqrt(F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
    return e.select("vec_id", "label", F.round(norm, 4).alias("norm"))


# -- LSH / simhash paths (deterministic md5 math → fully oracled) -----------


def q_simhash_docs(spark, sf_dir):
    """Per-doc 64-bit SimHash (vectorized pandas UDF); the per-token md5 bit
    accumulation is reproduced in DuckDB bit-for-bit (_SIMHASH_SQL)."""
    d = _t(spark, sf_dir, "documents")
    return with_simhash(d.select("doc_id", "text")).select("doc_id", "simhash")


def q_minhash_lsh_pairs(spark, sf_dir):
    """Full MinHash-LSH near-dup pipeline: banded-signature candidate join
    (null signatures excluded, buckets capped at LSH_BUCKET_CAP) + exact
    Jaccard verify, sharing ONE persisted shingle frame between signature
    and verify stages. The minhash bands are deterministic md5 math, so the
    'probabilistic' recall is a fixed function of the data — DuckDB
    reproduces the identical candidate set and verdicts."""
    d = _t(spark, sf_dir, "documents")
    return minhash_near_dups(d, threshold=0.5, num_hashes=16, bands=4, shingle_n=3)


def q_dedup_components(spark, sf_dir):
    """Near-dup *clusters*: the minhash_lsh_pairs edge list contracted to
    connected components (alternating large-star/small-star), one row per
    involved doc with its component's canonical (min) doc_id. This is the
    step a real dedup pipeline runs after pair generation: keep
    ``component_id``, drop the rest."""
    d = _t(spark, sf_dir, "documents")
    verified = minhash_near_dups(d, threshold=0.5, num_hashes=16, bands=4, shingle_n=3)
    # the verify stage emits distinct normalized pairs — skip CC's edge-dedup
    comp = connected_components(verified, assume_distinct=True)
    return comp.select(
        F.col("node").alias("doc_id"), F.col("comp").alias("component_id")
    )


def q_dedup_canonical_corpus(spark, sf_dir):
    """The dedup pipeline's actual deliverable: the corpus AFTER near-dup
    removal — every document except non-canonical members of a near-dup
    component (each component keeps its min doc_id; docs in no component
    are all kept). Composition of minhash_lsh_pairs → connected components
    → broadcast-able anti-join of the (small) drop set against documents:
    at 100 TB the drop set is the only thing that moves, and the join key
    is the table's primary key, so AQE turns it into a broadcast anti-join
    whenever dup density is sane."""
    d = _t(spark, sf_dir, "documents")
    verified = minhash_near_dups(d, threshold=0.5, num_hashes=16, bands=4, shingle_n=3)
    comp = connected_components(verified, assume_distinct=True)
    drop = comp.where(F.col("node") != F.col("comp")).select(
        F.col("node").alias("doc_id")
    )
    return d.join(drop, "doc_id", "left_anti").select("doc_id", "source")


def q_ann_lsh(spark, sf_dir):
    """ANN top-k via hyperplane-bucket equi-join over 2 independent tables
    (banded OR-construction — recall 1-(1-p^r)^b; buckets from deterministic
    md5-parity hyperplanes, oracled in DuckDB)."""
    e = _t(spark, sf_dir, "embeddings")
    return ann_topk_lsh(
        e, e.where(F.col("vec_id") < 8), dim=64, k=5, num_planes=4, num_tables=2
    )


def q_ann_ivf(spark, sf_dir):
    """ANN top-k via an IVF coarse quantizer (hash-sampled seeds + two Lloyd
    steps): queries probe the nprobe=3 nearest inverted lists only. The
    third ANN strategy next to brute force (q_ann_topk) and hyperplane LSH
    (q_ann_lsh); all math is deterministic, so DuckDB reproduces the
    centroids, list assignment, and verdicts exactly."""
    e = _t(spark, sf_dir, "embeddings")
    return ann_topk_ivf(
        e, e.where(F.col("vec_id") < 8), k=5, num_centroids=8, nprobe=3,
        lloyd_iters=2,
    )


def q_training_set(spark, sf_dir):
    """End-to-end training-set composer: language filter + quality gate +
    exact-fingerprint dedup (first doc_id wins), the selection pipeline a
    pretraining corpus build runs over the crawl output. One shuffle (the
    fingerprint window); everything else is whole-stage codegen."""
    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        lang_id(F.col("text")).alias("lang_pred"),
        quality_score(F.col("text")).alias("quality"),
        token_count(F.col("text")).alias("n_tokens"),
        fingerprint(F.col("text")).alias("fp"),
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    return (
        scored.where((F.col("lang_pred") == "en") & (F.col("quality") >= 0.5))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "lang_pred", "n_tokens", "quality")
    )


def q_corpus_splits(spark, sf_dir):
    """Deterministic train/val/test assignment (md5-bucket of doc_id,
    90/5/5): stable under corpus growth, partitioning, and re-runs —
    unlike randomSplit. Pure JVM md5 + whole-stage codegen."""
    d = _t(spark, sf_dir, "documents")
    return hash_split(d, "doc_id").select("doc_id", "split")


def q_source_capped(spark, sf_dir):
    """Per-source rebalancing: keep the 40 longest docs (n_chars desc,
    doc_id tiebreak) per source so no domain dominates the mixture. One
    shuffle on the source key."""
    d = _t(spark, sf_dir, "documents")
    return cap_per_source(
        d, "source", cap=40, order_exprs=[F.col("n_chars").desc(), F.col("doc_id")]
    ).select("doc_id", "source", "n_chars")


def q_simhash_near_dups(spark, sf_dir):
    """SimHash near-dup pairs via 4x16-bit band join + bit_count verify
    (complete for hamming<=3 by pigeonhole)."""
    d = _t(spark, sf_dir, "documents")
    return simhash_near_dups(d, max_hamming=3)


def q_image_phash_pairs(spark, sf_dir):
    """Image near-duplicate pairs end-to-end through the REAL multimodal
    path: per-document deterministic "hero image" (md5-keystream pixels
    derived from the 8-token boilerplate fingerprint — the declared
    synthetic stand-in for a page's lead image) → PNG encode → decode →
    64-bit pHash, all inside
    one Arrow-batched ``mapInPandas``, then the banded hamming self-join
    (``phash_near_dups``: 4x16-bit bands, zero-hash excluded, buckets
    capped). Same-boilerplate pages share the image bit-for-bit (hamming 0);
    unrelated fingerprints are ~32 bits apart, far outside the <=3 gate —
    so the oracle is exact prefix-fingerprint equality."""
    d = _t(spark, sf_dir, "documents")
    fp8 = F.md5(F.concat_ws(" ", F.slice(tokens(F.col("text")), 1, 8)))
    docs = (
        d.where(F.length(F.trim("text")) > 0)
        .select("doc_id", fp8.alias("fp8"))
    )
    # Repartition off the input-file partitioning first (a small SF reads as
    # ONE file → the render UDF would run on one core; same trap as the
    # minhash hash aggregation), then persist the (id, phash) projection:
    # the banded join references it on both sides, and without a
    # materialization the encode/decode/phash lineage would run twice. In
    # the crawl pipeline phash is a stored column of the results table.
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    imgs = render_fingerprint_images(docs).select("doc_id", "phash").persist()
    return phash_near_dups(imgs, id_col="doc_id")


def q_image_caption_joint_dedup(spark, sf_dir):
    """Joint image+caption near-dup pairs — the canonical dedup for an
    image+caption corpus (the north rule's input table): a pair is a
    duplicate only if the IMAGES collide (pHash hamming ≤ 3 via the banded
    self-join, exactly ``q_image_phash_pairs``'s candidate machinery) AND
    the CAPTIONS agree (``caption_agreeing_pairs``). Pixel-identical hero
    images with rewritten captions (or vice versa) survive — dropping
    either leg over-deletes at corpus scale. Composes the two existing
    generators; the only added shuffle is the caption shingle join onto
    the (already small) verified image-pair set, so the 100 TB posture is
    inherited: pairs ≪ corpus, shingles join by id."""
    pairs = q_image_phash_pairs(spark, sf_dir).localCheckpoint(eager=False)
    return caption_agreeing_pairs(spark, pairs, _t(spark, sf_dir, "documents"))


def caption_agreeing_pairs(spark, pairs: DataFrame, docs: DataFrame) -> DataFrame:
    """The (id_a, id_b, hamming) image pairs whose captions (``docs.text``
    by ``doc_id``) agree: exact 3-gram Jaccard ≥ 0.5 on the full text.
    Captions shorter than 3 tokens on both sides have no shingles; their
    Jaccard is 1.0 when the token arrays are equal and 0.0 otherwise."""
    # Shingle ONLY the pair members: the verified image-pair set is ≪ the
    # corpus (bucket-capped), so a semi-join before the shingle UDF prunes
    # the caption tokenization from O(corpus) to O(pairs) — at the 100 TB
    # posture that is the whole cost of the caption leg. AQE turns the id
    # join into a broadcast when the pair set is small enough.
    ids = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    sh = (
        docs.join(ids, "doc_id")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", tokens(F.col("text")).alias("_toks"))
        .select(
            "doc_id",
            "_toks",
            F.array_distinct(shingles_from_tokens(F.col("_toks"), 3)).alias("sh"),
        )
    )
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.join(
            sh.select(
                F.col("doc_id").alias("id_a"),
                F.col("_toks").alias("toks_a"),
                F.col("sh").alias("sh_a"),
            ),
            "id_a",
        )
        .join(
            sh.select(
                F.col("doc_id").alias("id_b"),
                F.col("_toks").alias("toks_b"),
                F.col("sh").alias("sh_b"),
            ),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.when(
                union == 0,
                F.when(F.col("toks_a") == F.col("toks_b"), 1.0).otherwise(0.0),
            ).otherwise(
                F.round(F.size(F.array_intersect("sh_a", "sh_b")) / union, 4)
            ),
        )
        .where(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b", "hamming", "jaccard")
    )


# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the fetch-join + metrics shape on sf0.001."""
    return q_orders_by_nation(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "pricing_summary": q_pricing_summary,
        "topk_per_user": q_topk_per_user,
        "customers_without_orders": q_customers_without_orders,
        "event_dedup_first": q_event_dedup_first,
        "status_routing": q_status_routing,
        "orders_by_nation": q_orders_by_nation,
        "priority_histogram": q_priority_histogram,
        "hourly_wave_metrics": q_hourly_wave_metrics,
        "doc_tokens": q_doc_tokens,
        "doc_fingerprint": q_doc_fingerprint,
        "doc_quality": q_doc_quality,
        "doc_lang": q_doc_lang,
        "dedup_prefix_groups": q_dedup_prefix_groups,
        "minhash_sig_groups": q_minhash_sig_groups,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "exact_dup_groups": q_exact_dup_groups,
        "embedding_neardup": q_embedding_neardup,
        "embedding_neardup_exact_audit": q_embedding_neardup_exact_audit,
        "ann_topk": q_ann_topk,
        "emb_norms": q_emb_norms,
        "simhash_docs": q_simhash_docs,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "dedup_components": q_dedup_components,
        "dedup_canonical_corpus": q_dedup_canonical_corpus,
        "ann_lsh": q_ann_lsh,
        "ann_ivf": q_ann_ivf,
        "training_set": q_training_set,
        "corpus_splits": q_corpus_splits,
        "source_capped": q_source_capped,
        "simhash_near_dups": q_simhash_near_dups,
        "image_phash_pairs": q_image_phash_pairs,
        "image_caption_joint_dedup": q_image_caption_joint_dedup,
    }


_TOKS = "string_split_regex(lower(trim(text)), '\\s+')"
_SHINGLES = (
    "list_distinct([array_to_string(w[i:i+2], ' ') "
    "for i in generate_series(1, len(w)-2)])"
)
_STOP = "['the','and','of','to','a','in','is']"

_LANG_SQL = """
with toks as (
  select doc_id, list_distinct({toks}) tk from documents
), hits as (
  select doc_id,
    len(list_intersect(tk, ['der','die','und','das','ist','nicht'])) h_de,
    len(list_intersect(tk, ['the','and','of','to','a','in','is'])) h_en,
    len(list_intersect(tk, ['el','la','los','de','que','es'])) h_es,
    len(list_intersect(tk, ['le','la','et','les','des','est'])) h_fr,
    len(list_intersect(tk, ['的','是','了','在','和'])) h_zh
  from toks
)
select doc_id,
  case
    when h_de > 0 and h_de >= h_en and h_de >= h_es and h_de >= h_fr and h_de >= h_zh then 'de'
    when h_en > 0 and h_en >= h_es and h_en >= h_fr and h_en >= h_zh then 'en'
    when h_es > 0 and h_es >= h_fr and h_es >= h_zh then 'es'
    when h_fr > 0 and h_fr >= h_zh then 'fr'
    when h_zh > 0 then 'zh'
    else 'und'
  end as lang_pred
from hits
""".format(toks=_TOKS)

_QUALITY_SQL = """
with m as (
  select doc_id, text,
    len({toks}) n,
    case when length(text)=0 then 0.0
         else length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE / length(text) end pr,
    case when len({toks})=0 then 0.0
         else len(list_filter({toks}, t -> list_contains({stop}, t)))::DOUBLE / len({toks}) end sr
  from documents
)
select doc_id,
  round((least(n / 50.0, 1.0) + least(sr * 5.0, 1.0) + greatest(0.0, 1.0 - pr * 4.0)) / 3.0, 4) as quality
from m
""".format(toks=_TOKS, stop=_STOP)

_MINHASH_SQL = """
with toks as (select doc_id, {toks} w from documents),
sh as (
  select doc_id,
    case when len(w) < 3 then [] else {shingles} end s
  from toks
),
sig as (
  select doc_id, array_to_string(
    [list_min([('0x' || substr(md5(x), 1, 15))::BIGINT
               + i * (('0x' || substr(md5('s:' || x), 1, 15))::BIGINT % 36028797018963968)
               for x in s])::VARCHAR
     for i in generate_series(0, 15)], ',') sig_key
  from sh
)
select sig_key, count(*) n_dups, min(doc_id) canonical_id
from sig group by sig_key having count(*) > 1
""".format(toks=_TOKS, shingles=_SHINGLES)

_JACCARD_SQL = """
with toks as (select doc_id, {toks} w from documents),
sh as (
  select doc_id,
    md5(array_to_string(w[1:8], ' ')) fp8,
    case when len(w) < 3 then [] else {shingles} end s
  from toks
  qualify count(*) over (partition by fp8) <= {cap}
)
select a.doc_id id_a, b.doc_id id_b,
  round(len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(a.s || b.s)), 4) jaccard
from sh a join sh b using (fp8)
where a.doc_id < b.doc_id
""".format(toks=_TOKS, shingles=_SHINGLES, cap=FP8_BUCKET_CAP)

# MinHash-LSH candidate pairs + exact-Jaccard verify, bit-identical to
# minhash_near_dups (num_hashes=16, bands=4, rows=4): sig[i] = min over
# shingles of the Kirsch-Mitzenmacher double hash h1 + i*(h2 mod 2^55) with
# h1/h2 the first-15-hex-digits of md5(shingle) / md5('s:'||shingle); band
# key = comma-joined 4-slice of the signature. Docs with NO shingles (< n tokens)
# are excluded before banding — their all-null signatures would otherwise
# collapse into one degenerate '' band bucket — and band buckets holding
# more than LSH_BUCKET_CAP docs degrade to star + salted-chain candidates
# against the bucket-min rep (dedup._split_buckets: the chain splits into
# ceil(n/chain_seg) md5-salted sub-chains linked by seam edges between the
# per-salt min ids, so no Spark window task owns a mega-bucket — replicated
# here exactly); candidates join per (band, key).
_MINHASH_LSH_TEMPLATE = """
with toks as (select doc_id, {toks} w from documents),
sh as (
  select doc_id, case when len(w) < 3 then [] else {shingles} end s
  from toks
),
sig as (
  select doc_id,
    [list_min([('0x' || substr(md5(x), 1, 15))::BIGINT
               + i * (('0x' || substr(md5('s:' || x), 1, 15))::BIGINT % 36028797018963968)
               for x in s])
     for i in generate_series(0, 15)] sig
  from sh where len(s) > 0
),
bands0 as (
  select doc_id, b.b band_id,
    array_to_string([sig[b.b * 4 + r] for r in generate_series(1, 4)], ',') band_key,
    count(*) over (partition by b.b, band_key) _cnt,
    min(doc_id) over (partition by b.b, band_key) _rep
  from sig cross join (select unnest(generate_series(0, 3)) b) b
),
bands as (
  select doc_id, band_id, band_key, _cnt, _rep,
    ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
      % greatest(1, ceil(_cnt / {seg}.0))::BIGINT _salt,
    lag(doc_id) over (partition by band_id, band_key, _salt order by doc_id) _prev
  from bands0
),
seams as (
  select least(_psr, _sr) id_a, greatest(_psr, _sr) id_b from (
    select min(doc_id) _sr,
      lag(min(doc_id)) over (partition by band_id, band_key order by _salt) _psr
    from bands where _cnt > {cap}
    group by band_id, band_key, _salt
  ) where _psr is not null
),
cand as (
  select a.doc_id id_a, b.doc_id id_b
  from bands a join bands b on a.band_id = b.band_id and a.band_key = b.band_key
  where a.doc_id < b.doc_id and a._cnt <= {cap}
  union
  select _rep, doc_id from bands where _cnt > {cap} and doc_id != _rep
  union
  select _prev, doc_id from bands where _cnt > {cap} and _prev is not null
  union
  select id_a, id_b from seams
),
j as (
  select id_a, id_b,
    round(case when len(list_distinct(sa.s || sb.s)) = 0 then 0.0
               else len(list_intersect(sa.s, sb.s))::DOUBLE
                    / len(list_distinct(sa.s || sb.s)) end, 4) jaccard
  from cand
  join sh sa on sa.doc_id = id_a
  join sh sb on sb.doc_id = id_b
)
select id_a, id_b, jaccard from j where jaccard >= 0.5
"""
_MINHASH_LSH_SQL = _MINHASH_LSH_TEMPLATE.format(
    toks=_TOKS, shingles=_SHINGLES, cap=LSH_BUCKET_CAP, seg=LSH_CHAIN_SEG
)

# Connected components over the exact same verified pair set: recursive
# transitive closure (fine at oracle scale; the Spark side uses the
# O(log^2 n) star-contraction instead). component_id = min id reachable.
_TAIL = "select id_a, id_b, jaccard from j where jaccard >= 0.5"
assert _TAIL in _MINHASH_LSH_SQL
_COMPONENTS_SQL = _MINHASH_LSH_SQL.replace("with toks", "with recursive toks", 1).replace(
    _TAIL,
    """, pairs as (
  select id_a, id_b from j where jaccard >= 0.5
),
edges as (
  select id_a u, id_b v from pairs
  union
  select id_b u, id_a v from pairs
),
reach as (
  select u, v from edges
  union
  select r.u, e.v from reach r join edges e on r.v = e.u where e.v <> r.u
)
select u doc_id, least(u, min(v)) component_id from reach group by u
""",
    1,
)

# The kept corpus after near-dup removal: components' final select becomes a
# CTE; non-canonical members (doc_id <> component_id) anti-join away.
_CANONICAL_CORPUS_SQL = _COMPONENTS_SQL.replace(
    "select u doc_id, least(u, min(v)) component_id from reach group by u",
    """, comps as (
  select u doc_id, least(u, min(v)) component_id from reach group by u
)
select d.doc_id, d.source from documents d
anti join (select doc_id from comps where doc_id <> component_id) x using (doc_id)
""",
    1,
)

# SimHash core: per-token md5-prefix little-endian uint64 → per-bit ±1
# accumulation → sign bits packed into a 64-bit value. Matches
# dedup.simhash_udf bit-for-bit (verified over random corpora); docs with no
# tokens hash to 0. `full` = (doc_id, uv UBIGINT) for every document.
_SIMHASH_CORE = """
toks as (
  select doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) tok
  from documents where length(trim(text)) > 0
),
hv as (
  select doc_id,
    ('0x' || substr(m,15,2) || substr(m,13,2) || substr(m,11,2) || substr(m,9,2)
          || substr(m,7,2) || substr(m,5,2) || substr(m,3,2) || substr(m,1,2))::UBIGINT v
  from (select doc_id, md5(tok) m from toks)
),
bits as (
  select doc_id, b.b,
    sum(case when (v >> b.b) & 1 = 1 then 1 else -1 end) acc
  from hv cross join (select unnest(generate_series(0, 63)) b) b
  group by doc_id, b.b
),
acc64 as (
  select doc_id, sum(case when acc > 0 then (1::HUGEINT << b) else 0::HUGEINT end) uv
  from bits group by doc_id
),
full_sim as (
  select d.doc_id, coalesce(s.uv, 0::HUGEINT)::UBIGINT uv
  from documents d left join acc64 s using (doc_id)
)
"""

_SIMHASH_SQL = (
    "with "
    + _SIMHASH_CORE
    + """
select doc_id,
  (case when uv >= 9223372036854775808::HUGEINT
        then uv::HUGEINT - 18446744073709551616::HUGEINT
        else uv::HUGEINT end)::BIGINT simhash
from full_sim
"""
)

# SimHash near-dup pairs: 4x16-bit band equi-join + bit_count(xor) verify —
# same pigeonhole-complete candidate generation as dedup.simhash_near_dups.
# Empty docs (simhash 0) are excluded before banding (every one would land
# in band_val 0 of all 4 bands — one degenerate quadratic bucket), and band
# buckets over LSH_BUCKET_CAP docs degrade to star pairs against the
# bucket-min rep, mirroring dedup._split_buckets.
_SIMHASH_PAIRS_SQL = (
    "with "
    + _SIMHASH_CORE
    + f"""
, bands0 as (
  select doc_id, uv, b.b band_id, (uv >> (16 * b.b)) & 65535 band_val,
    count(*) over (partition by b.b, (uv >> (16 * b.b)) & 65535) _cnt,
    min(doc_id) over (partition by b.b, (uv >> (16 * b.b)) & 65535) _rep
  from full_sim cross join (select unnest(generate_series(0, 3)) b) b
  where uv != 0
),
bands as (
  select doc_id, uv, band_id, band_val, _cnt, _rep,
    ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
      % greatest(1, ceil(_cnt / {LSH_CHAIN_SEG}.0))::BIGINT _salt,
    lag(doc_id) over (partition by band_id, band_val, _salt order by doc_id) _prev
  from bands0
),
seams as (
  select least(_psr, _sr) id_a, greatest(_psr, _sr) id_b from (
    select min(doc_id) _sr,
      lag(min(doc_id)) over (partition by band_id, band_val order by _salt) _psr
    from bands where _cnt > {LSH_BUCKET_CAP}
    group by band_id, band_val, _salt
  ) where _psr is not null
),
cand as (
  select a.doc_id id_a, b.doc_id id_b
  from bands a join bands b on a.band_id = b.band_id and a.band_val = b.band_val
  where a.doc_id < b.doc_id and a._cnt <= {LSH_BUCKET_CAP}
  union
  select _rep, doc_id from bands where _cnt > {LSH_BUCKET_CAP} and doc_id != _rep
  union
  select _prev, doc_id from bands
  where _cnt > {LSH_BUCKET_CAP} and _prev is not null
  union
  select id_a, id_b from seams
)
select distinct id_a, id_b, bit_count(xor(fa.uv, fb.uv))::INT hamming
from cand
join full_sim fa on fa.doc_id = id_a
join full_sim fb on fb.doc_id = id_b
where bit_count(xor(fa.uv, fb.uv)) <= 3
"""
)

# Random-hyperplane LSH buckets (similarity.with_lsh_tables parity): global
# plane p component i is +1 iff the first hex byte of md5(p||':'||i) is even;
# table t = p // 4 uses planes 4t..4t+3, bucket = that table's 4 sign bits,
# first plane most significant (the banded OR-construction — a pair is a
# candidate if it collides in ANY table). `buck` = one row per (vec_id,
# table_id) with (v DOUBLE[], bucket BIGINT) for dim=64, planes=4, tables=2.
_LSH_BUCKET_CTE = """
e as (select vec_id, embedding::DOUBLE[] v from embeddings),
planes as (select unnest(generate_series(0, 7)) p),
sgn as (
  select vec_id, v, p,
    case when list_sum([
        v[i+1] * (case when ('0x' || substr(md5(p || ':' || i), 1, 2))::INT % 2 = 0
                       then 1.0 else -1.0 end)
        for i in generate_series(0, 63)]) > 0 then 1 else 0 end s
  from e cross join planes
),
buck as (
  select vec_id, any_value(v) v, p // 4 table_id,
    sum(s * (1::BIGINT << (3 - (p % 4))))::BIGINT bucket
  from sgn group by vec_id, p // 4
)
"""

_ANN_LSH_SQL = (
    "with "
    + _LSH_BUCKET_CTE
    + """
, q as (select vec_id query_id, v qv, table_id, bucket from buck where vec_id < 8),
n as (select vec_id neighbor_id, v ev, table_id, bucket from buck),
cand as (
  select query_id, neighbor_id, any_value(qv) qv, any_value(ev) ev
  from q join n using (table_id, bucket)
  where query_id != neighbor_id
  group by query_id, neighbor_id
)
select query_id, neighbor_id,
  row_number() over (partition by query_id
    order by list_cosine_similarity(qv, ev) desc, neighbor_id) rank,
  round(list_cosine_similarity(qv, ev), 4) sim
from cand
qualify rank <= 5
"""
)

# Overfull (table, bucket) groups beyond the cap degrade to star pairs
# against the bucket-min rep (mirror of embedding_near_dups's
# dedup._split_buckets path).
_NEARDUP_LSH_SQL = (
    "with "
    + _LSH_BUCKET_CTE
    + """
, bk0 as (
  select vec_id, table_id, bucket,
    count(*) over (partition by table_id, bucket) _cnt,
    min(vec_id) over (partition by table_id, bucket) _rep
  from buck
),
bk as (
  select vec_id, table_id, bucket, _cnt, _rep,
    ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT
      % greatest(1, ceil(_cnt / 4096.0))::BIGINT _salt,
    lag(vec_id) over (partition by table_id, bucket, _salt order by vec_id) _prev
  from bk0
),
seams as (
  select least(_psr, _sr) id_a, greatest(_psr, _sr) id_b from (
    select min(vec_id) _sr,
      lag(min(vec_id)) over (partition by table_id, bucket order by _salt) _psr
    from bk where _cnt > 1024
    group by table_id, bucket, _salt
  ) where _psr is not null
),
cand as (
  select a.vec_id id_a, b.vec_id id_b
  from bk a join bk b on a.table_id = b.table_id and a.bucket = b.bucket
  where a.vec_id < b.vec_id and a._cnt <= 1024
  union
  select _rep, vec_id from bk where _cnt > 1024 and vec_id != _rep
  union
  select _prev, vec_id from bk where _cnt > 1024 and _prev is not null
  union
  select id_a, id_b from seams
)
select id_a, id_b, round(list_cosine_similarity(ea.v, eb.v), 4) sim
from cand join e ea on ea.vec_id = id_a join e eb on eb.vec_id = id_b
where list_cosine_similarity(ea.v, eb.v) >= 0.45
"""
)
assert "_cnt <= 1024" in _NEARDUP_LSH_SQL  # cap mirror (star degrade, not drop)


# IVF coarse quantizer (similarity.ivf_centroids / ann_topk_ivf parity):
# seeds = the 8 vectors with the smallest md5('seed:'||id) — a deterministic
# uniform hash-sample over the corpus (NOT the lowest ids, which would bias
# the quantizer to whatever the first rows happen to be); one Lloyd step
# (nearest-seed assignment by cosine, ties → lowest centroid_id, then
# per-cluster component-wise mean, empty clusters keep their seed); final
# assignment against the refined centroids; queries (vec_id < 8) probe the
# nprobe=2 nearest lists; exact cosine top-5 within the probed lists, ties →
# ascending neighbor_id.
_ANN_IVF_SQL = """
with e as (select vec_id, embedding::DOUBLE[] v from embeddings),
seeds as (
  select centroid_id, cv from (
    select vec_id centroid_id, v cv,
      row_number() over (order by md5('seed:' || vec_id::VARCHAR), vec_id) rn
    from e) where rn <= 8
),
asg1 as (
  select id, v, centroid_id from (
    select e.vec_id id, e.v, s.centroid_id,
      row_number() over (partition by e.vec_id
        order by list_cosine_similarity(e.v, s.cv) desc, s.centroid_id) rn
    from e cross join seeds s) where rn = 1
),
means1 as (
  select centroid_id, list(m order by pos) mv from (
    select centroid_id, pos, avg(x) m from (
      select centroid_id, unnest(v) x, generate_subscripts(v, 1) pos from asg1)
    group by centroid_id, pos)
  group by centroid_id
),
cents1 as (
  select s.centroid_id, coalesce(m.mv, s.cv) centroid
  from seeds s left join means1 m using (centroid_id)
),
asg2 as (
  select id, v, centroid_id from (
    select e.vec_id id, e.v, c.centroid_id,
      row_number() over (partition by e.vec_id
        order by list_cosine_similarity(e.v, c.centroid) desc, c.centroid_id) rn
    from e cross join cents1 c) where rn = 1
),
means2 as (
  select centroid_id, list(m order by pos) mv from (
    select centroid_id, pos, avg(x) m from (
      select centroid_id, unnest(v) x, generate_subscripts(v, 1) pos from asg2)
    group by centroid_id, pos)
  group by centroid_id
),
cents as (
  select c1.centroid_id, coalesce(m.mv, c1.centroid) centroid
  from cents1 c1 left join means2 m using (centroid_id)
),
lists as (
  select id neighbor_id, v ev, centroid_id from (
    select e.vec_id id, e.v, c.centroid_id,
      row_number() over (partition by e.vec_id
        order by list_cosine_similarity(e.v, c.centroid) desc, c.centroid_id) rn
    from e cross join cents c) where rn = 1
),
probes as (
  select query_id, qv, centroid_id from (
    select q.vec_id query_id, q.v qv, c.centroid_id,
      row_number() over (partition by q.vec_id
        order by list_cosine_similarity(q.v, c.centroid) desc, c.centroid_id) rn
    from e q cross join cents c where q.vec_id < 8) where rn <= 3
)
select query_id, neighbor_id,
  row_number() over (partition by query_id
    order by list_cosine_similarity(qv, ev) desc, neighbor_id) rank,
  round(list_cosine_similarity(qv, ev), 4) sim
from lists join probes using (centroid_id)
where query_id != neighbor_id
qualify rank <= 5
"""

_TRAINING_SET_SQL = f"""
with l as ({_LANG_SQL}),
q as ({_QUALITY_SQL}),
base as (
  select doc_id,
    case when length(trim(text)) = 0 then 0 else len({_TOKS}) end n_tokens,
    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) fp
  from documents
)
select doc_id, lang_pred, n_tokens, quality
from base join l using (doc_id) join q using (doc_id)
where lang_pred = 'en' and quality >= 0.5
qualify row_number() over (partition by fp order by doc_id) = 1
"""


_IMAGE_PHASH_SQL = f"""
            with p as (
              select doc_id, md5(array_to_string({_TOKS}[1:8], ' ')) fp8
              from documents where length(trim(text)) > 0
            ),
            g0 as (
              select doc_id, fp8,
                count(*) over (partition by fp8) _cnt,
                min(doc_id) over (partition by fp8) _rep
              from p
            ),
            g as (
              select doc_id, fp8, _cnt, _rep,
                ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
                  % greatest(1, ceil(_cnt / {LSH_CHAIN_SEG}.0))::BIGINT _salt,
                lag(doc_id) over (partition by fp8, _salt order by doc_id) _prev
              from g0
            ),
            seams as (
              select least(_psr, _sr) id_a, greatest(_psr, _sr) id_b from (
                select min(doc_id) _sr,
                  lag(min(doc_id)) over (partition by fp8 order by _salt) _psr
                from g where _cnt > {LSH_BUCKET_CAP}
                group by fp8, _salt
              ) where _psr is not null
            )
            select a.doc_id id_a, b.doc_id id_b, 0::INT hamming
            from g a join g b on a.fp8 = b.fp8 and a.doc_id < b.doc_id
            where a._cnt <= {LSH_BUCKET_CAP}
            union
            select _rep, doc_id, 0::INT
            from g where _cnt > {LSH_BUCKET_CAP} and doc_id != _rep
            union
            select _prev, doc_id, 0::INT
            from g where _cnt > {LSH_BUCKET_CAP} and _prev is not null
            union
            select id_a, id_b, 0::INT from seams
"""


def oracle_sql() -> dict[str, str]:
    return {
        "pricing_summary": """
            select l_returnflag, l_linestatus,
              round(sum(l_quantity), 2) sum_qty,
              round(sum(l_extendedprice), 2) sum_base_price,
              round(sum(l_extendedprice * (1 - l_discount)), 2) sum_disc_price,
              round(avg(l_quantity), 4) avg_qty,
              count(*) count_order
            from lineitem group by l_returnflag, l_linestatus
        """,
        "topk_per_user": """
            select user_id, event_id, rn from (
              select user_id, event_id,
                row_number() over (partition by user_id order by ts, event_id) rn
              from events) where rn <= 3
        """,
        "customers_without_orders": """
            select c_custkey, c_name from customer
            where c_custkey not in (select o_custkey from orders)
        """,
        "event_dedup_first": """
            select user_id, event_type, min(event_id) first_event_id, count(*) n_dups
            from events group by user_id, event_type
        """,
        "status_routing": """
            select event_type,
              sum(case when value < 150 then 1 else 0 end)::BIGINT n_ok,
              sum(case when value >= 150 then 1 else 0 end)::BIGINT n_retry,
              round(avg(value), 4) avg_value
            from events group by event_type
        """,
        "orders_by_nation": """
            select n_name, count(*) n_orders, round(sum(o_totalprice), 2) sum_price
            from orders join customer on o_custkey = c_custkey
            join nation on c_nationkey = n_nationkey
            group by n_name
        """,
        "priority_histogram": """
            select o_orderpriority, count(*) n from orders group by o_orderpriority
        """,
        "hourly_wave_metrics": """
            select strftime(date_trunc('hour', ts), '%Y-%m-%d %H') hr,
              count(*) n_events, count(distinct user_id) n_users
            from events group by 1
        """,
        "doc_tokens": f"""
            select doc_id,
              case when length(trim(text)) = 0 then 0 else len({_TOKS}) end n_tokens,
              case when length(trim(text)) = 0 then 0 else
                len(string_split_regex(
                  regexp_replace(
                    regexp_replace(lower(trim(text)), '([a-z])([0-9])', '\\1 \\2', 'g'),
                    '([0-9])([a-z])', '\\1 \\2', 'g'),
                  '\\s+')) end n_bpe_tokens,
              n_chars
            from documents
        """,
        "doc_fingerprint": """
            select doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) fp
            from documents
        """,
        "doc_quality": _QUALITY_SQL,
        "doc_lang": _LANG_SQL,
        "dedup_prefix_groups": f"""
            with fp as (
              select doc_id, md5(array_to_string({_TOKS}[1:8], ' ')) fp8 from documents
            )
            select fp8, count(*) n_dups, min(doc_id) canonical_id
            from fp group by fp8 having count(*) > 1
        """,
        "minhash_sig_groups": _MINHASH_SQL,
        "ngram_jaccard_pairs": _JACCARD_SQL,
        "exact_dup_groups": """
            with fp as (
              select doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) fp
              from documents
            )
            select fp, count(*) n_dups, min(doc_id) canonical_id
            from fp group by fp having count(*) > 1
        """,
        "embedding_neardup": _NEARDUP_LSH_SQL,
        "embedding_neardup_exact_audit": """
            with e as (select vec_id, embedding::DOUBLE[] v from embeddings
                       where vec_id % 4 = 0)
            select a.vec_id id_a, b.vec_id id_b,
              round(list_cosine_similarity(a.v, b.v), 4) sim
            from e a join e b on a.vec_id < b.vec_id
            where list_cosine_similarity(a.v, b.v) >= 0.45
        """,
        "ann_topk": """
            with q as (select vec_id query_id, embedding::DOUBLE[] qv
                       from embeddings where vec_id < 8),
            e as (select vec_id neighbor_id, embedding::DOUBLE[] ev from embeddings)
            select query_id, neighbor_id,
              row_number() over (partition by query_id
                order by list_cosine_similarity(qv, ev) desc, neighbor_id) rank,
              round(list_cosine_similarity(qv, ev), 4) sim
            from q, e where query_id != neighbor_id
            qualify rank <= 5
        """,
        "emb_norms": """
            select vec_id, label,
              round(sqrt(list_aggregate([x * x for x in embedding::DOUBLE[]], 'sum')), 4) norm
            from embeddings
        """,
        "simhash_docs": _SIMHASH_SQL,
        "simhash_near_dups": _SIMHASH_PAIRS_SQL,
        "minhash_lsh_pairs": _MINHASH_LSH_SQL,
        "dedup_components": _COMPONENTS_SQL,
        "dedup_canonical_corpus": _CANONICAL_CORPUS_SQL,
        "ann_lsh": _ANN_LSH_SQL,
        "ann_ivf": _ANN_IVF_SQL,
        "training_set": _TRAINING_SET_SQL,
        "corpus_splits": """
            with b as (
              select doc_id,
                ('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 4))::INT % 100 bucket
              from documents
            )
            select doc_id,
              case when bucket < 90 then 'train'
                   when bucket < 95 then 'val'
                   else 'test' end split
            from b
        """,
        "source_capped": """
            select doc_id, source, n_chars from documents
            qualify row_number() over (
              partition by source order by n_chars desc, doc_id) <= 40
        """,
        # Same-fingerprint pages share the synthetic hero image byte-for-byte
        # (pHash hamming 0); distinct md5s give ~32-bit-apart noise hashes,
        # so the <=3 near-dup set is exactly the fp8-equality pairs (verified
        # empirically over the fixed corpus — the render is deterministic).
        # Groups over the band-bucket cap degrade to star pairs against the
        # group-min doc (identical phashes -> the fp8 group IS the bucket in
        # every band, so the fp8-space mirror is exact).
        "image_phash_pairs": _IMAGE_PHASH_SQL,
        # img pairs are the (small) verified near-dup set; the caption legs
        # join onto it by id — mirrors the Spark plan's join order exactly.
        "image_caption_joint_dedup": f"""
            with img as ({_IMAGE_PHASH_SQL}),
            toks as (select doc_id, {_TOKS} w from documents),
            sh as (
              select doc_id, w,
                case when len(w) < 3 then [] else {_SHINGLES} end s
              from toks
            )
            select * from (
              select p.id_a, p.id_b, p.hamming,
                case when len(list_distinct(a.s || b.s)) = 0
                  then case when a.w = b.w then 1.0 else 0.0 end::DOUBLE
                  else round(len(list_intersect(a.s, b.s))::DOUBLE
                             / len(list_distinct(a.s || b.s)), 4)
                end jaccard
              from img p
              join sh a on a.doc_id = p.id_a
              join sh b on b.doc_id = p.id_b
            ) where jaccard >= 0.5
        """,
    }


