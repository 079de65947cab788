"""Deduplication operators — the north-star endpoint of the reference's
pipeline plus the LLM-training-data dedup family.

The reference targets ClickHouse, where CDC upserts resolve via
ReplacingMergeTree: "latest row per key" (the snapshot + binlog checkpoint at
mysql_to_clickhouse_sync.py:175-181 exists precisely to feed that merge).
q_dedup_latest IS that semantic as a window. The rest are the standard
training-data dedup ladder:

  * q_exact_dedup     — content-hash groupBy (md5), keep min(doc_id)
  * q_doc_fingerprint — normalized-content fingerprint (rolling-hash analog)
  * q_minhash_dedup   — MinHash + LSH banding: word-shingles -> 8 minhashes ->
                        4 bands -> bucket self-join -> candidate pairs with
                        estimated Jaccard. All md5-derived, so the DuckDB
                        oracle reproduces it exactly.
  * q_ngram_jaccard   — exact n-gram Jaccard on a bounded subset (the
                        ground-truth for the MinHash estimate)
  * q_simhash_dedup   — 32-bit SimHash, pigeonhole-banded candidate
                        generation + exact Hamming re-score (exact recall)
  * q_simhash_exact   — all-pairs SimHash on a bounded subset (ground truth
                        twin, same role as q_ngram_jaccard for MinHash)

Scale notes: exact dedup and fingerprint are single-shuffle groupBys on a
fixed-width hash — the canonical 100 TB pattern. MinHash-LSH is the scale
path for near-dup: cost is O(docs x shingles) for signatures (embarrassingly
parallel, no shuffle) + one shuffle on (band, bucket); candidate pairs are a
tiny fraction of the n^2 pair space. q_ngram_jaccard is deliberately bounded
(doc_id < N) because exact all-pairs Jaccard does NOT scale — it exists as
the oracle-checkable ground truth.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mysql_to_clickhouse_sync_spark.catalog import EVENTS_US_CTE, load_table
from mysql_to_clickhouse_sync_spark.functions.lsh_guard import (
    DEFAULT_MAX_BUCKET,
    band_pairs,
    cap_buckets,
    pigeonhole_bounds,
)
from mysql_to_clickhouse_sync_spark.registry import declare

NUM_HASHES = 8
NUM_BANDS = 4  # 2 rows per band
SHINGLE_WORDS = 3
JACCARD_SUBSET = 200  # doc_id bound for the exact ground-truth query
SIMHASH_BITS = 32
SIMHASH_MAX_HAMMING = 4
# Pigeonhole banding: with MAX_HAMMING + 1 disjoint chunks covering all 32
# bits, any pair within hamming <= MAX_HAMMING must agree on >= 1 whole chunk
# (at most MAX_HAMMING chunks can contain a differing bit). Equi-joining on
# (lang, chunk_idx, chunk_value) therefore has EXACT recall — the banded plan
# returns the identical pair set as the all-pairs join, so the same oracle
# hash-matches.
SIMHASH_CHUNKS = SIMHASH_MAX_HAMMING + 1  # 5 chunks: bit widths 7,7,6,6,6
SIMHASH_EXACT_SUBSET = 300  # doc_id bound for the all-pairs ground-truth twin
# Cell keys of each family's band table (band_pairs / cap_buckets).
MINHASH_CELL = ("band_idx", "bucket")
SIMHASH_CELL = ("lang", "chunk_idx", "chunk_val")


@declare(
    "q_dedup_latest",
    oracle=f"""
    {EVENTS_US_CTE}
    SELECT user_id, event_id, ts, event_type, value
    FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events_us
    )
    WHERE rn = 1
    """,
    tier="P1",
)
def q_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest event per user — ReplacingMergeTree / CDC-upsert semantics
    (the merge the reference's binlog checkpoint exists to enable)."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type", "value")
    )


@declare(
    "q_exact_dedup",
    oracle="""
    SELECT md5(text) AS text_hash,
           min(doc_id) AS keep_doc_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
    tier="P1",
)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on md5(text), keep the smallest doc_id.
    One shuffle on a 32-byte key regardless of document size."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(
        F.md5(F.col("text").cast("binary")).alias("text_hash")
    ).agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count("*").alias("n_copies"),
    )


# --- shared text-normalization / hashing expressions ------------------------

# Canonical definitions live in functions/ (textexpr.py, hashing.py);
# re-exported here under the historical names for downstream importers.
from mysql_to_clickhouse_sync_spark.functions.hashing import (  # noqa: E402
    md5_hash64,
    md5_hash64_sql as _md5_hash64_sql,
)
from mysql_to_clickhouse_sync_spark.functions.textexpr import (  # noqa: E402
    NORM_TEXT_SQL as _NORM_SQL,
    norm_text as _norm_text,
)


@declare(
    "q_doc_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5({_NORM_SQL.format(col='text')}) AS fingerprint
    FROM documents
    """,
    tier="P1",
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document content fingerprint over normalized text (whitespace/
    punctuation/case-insensitive) — catches trivially-reformatted copies that
    exact md5 misses."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(_norm_text(F.col("text")).cast("binary")).alias("fingerprint"),
    )


# --- MinHash + LSH ----------------------------------------------------------

def word_shingles(col: Column) -> Column:
    """Distinct 3-word shingles of the normalized text. The null-skipping
    concat_ws keeps <3-word docs well-defined (single partial shingle).

    Formulated as zip_with over shifted slices rather than
    transform(sequence, i -> tokens[i] ...): a lambda that indexes back
    into `tokens` re-evaluates the embedded split+regexp_replace PER
    ELEMENT (HOF lambda bodies are interpreted, no subexpression reuse
    — measured 6.5 s for 500 docs at sf0.1, ~3 tokenizations per
    shingle), while zip_with evaluates each input array ONCE per row.
    Identical output: zip_with pads the shorter (shifted) side with
    NULL and concat_ws skips NULLs, so the tail/partial-shingle law is
    unchanged (pinned in tests/test_dedup_modules.py)."""
    tokens = F.split(_norm_text(col), r"\s+")
    n = F.greatest(F.size(tokens) - F.lit(SHINGLE_WORDS - 1), F.lit(1))
    s1 = F.slice(tokens, 2, F.greatest(F.size(tokens) - 1, F.lit(0)))
    s2 = F.slice(tokens, 3, F.greatest(F.size(tokens) - 2, F.lit(0)))
    pairs = F.zip_with(tokens, s1, lambda a, b: F.concat_ws(" ", a, b))
    tris = F.zip_with(pairs, s2, lambda ab, c: F.concat_ws(" ", ab, c))
    return F.array_distinct(F.slice(tris, F.lit(1), n))


_SHINGLES_SQL = f"""
    list_distinct(list_transform(
        range(1, greatest(len(tokens) - {SHINGLE_WORDS - 1}, 1) + 1),
        i -> concat_ws(' ', tokens[i], tokens[i + 1], tokens[i + 2])
    ))
"""


def _shingled_cte_prefix(
    cols: str = "doc_id", source: str = "documents", where: str = ""
) -> str:
    """``WITH toks AS (...), shingled AS (...)`` — the ONE oracle-side
    definition of tokenization + shingling, shared by the minhash,
    jaccard and containment oracles so they cannot silently diverge
    (the _simhash_sh_cte pattern applied to the shingle family)."""
    return f"""
    WITH toks AS (
        SELECT {cols},
               string_split_regex({_NORM_SQL.format(col='text')}, '\\s+') AS tokens
        FROM {source}{where}
    ), shingled AS (
        SELECT {cols}, {_SHINGLES_SQL} AS sh FROM toks
    )"""


# Affine universal-hash family over a Mersenne prime: h_j(x) = (A_j*x + B_j)
# mod P, with x = md5-hash(shingle) mod P computed ONCE. One md5 per shingle
# total (not per hash fn) — the standard MinHash construction, and ~8x less
# hashing than seeded-md5-per-function. All arithmetic stays under 2^62, so
# no overflow in either engine's bigint.
MINHASH_P = 2147483647  # 2^31 - 1
MINHASH_A = (2654435761, 2246822519, 3266489917, 668265263,
             374761393, 2097192837, 1181783497, 1609587929)
MINHASH_B = (1013904223, 1664525, 69069, 362437,
             1103515245, 12345, 214013, 2531011)


def shingle_rows(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, s) shingle rows built relationally: posexplode tokens, then
    window lead() assembles 3-word shingles. Every expression evaluates once
    per row — the array-lambda formulation (word_shingles) gets its
    tokenization inlined into each element access by CollapseProject, costing
    ~3 regex passes per shingle. Duplicates are kept (harmless for min-
    aggregation; dedupe downstream if set semantics are needed)."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(_norm_text(F.col(text_col)), r"\s+")).alias(
            "pos", "t"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    n = F.count("*").over(Window.partitionBy("doc_id"))
    assembled = toks.select(
        "doc_id",
        F.concat_ws(
            " ", F.col("t"), F.lead("t", 1).over(w), F.lead("t", 2).over(w)
        ).alias("s"),
        F.col("pos"),
        n.alias("n"),
    )
    # Positions 0..n-3 give full shingles; docs with <3 tokens keep their
    # single partial shingle at pos 0 (same semantics as word_shingles).
    return assembled.filter(
        F.col("pos") <= F.greatest(F.col("n") - SHINGLE_WORDS, F.lit(0))
    ).select("doc_id", "s")


def minhash_signatures_table(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = NUM_HASHES,
) -> DataFrame:
    """(doc_id, sig array<bigint>) via shingle rows + groupBy-min: each
    shingle is md5-hashed once, the affine family derives the j-th hash
    arithmetically, and the mins aggregate with map-side combine. This is the
    scale path — one shuffle on doc_id with 8 bigints of state per doc."""
    exploded = shingle_rows(docs, id_col, text_col).withColumn(
        "h", md5_hash64(F.col("s")) % MINHASH_P
    )
    mins = exploded.groupBy("doc_id").agg(
        *[
            F.min((F.col("h") * MINHASH_A[j] + MINHASH_B[j]) % MINHASH_P).alias(
                f"mh{j}"
            )
            for j in range(num_hashes)
        ]
    )
    return mins.select(
        "doc_id", F.array(*[f"mh{j}" for j in range(num_hashes)]).alias("sig")
    )


def minhash_band_table(
    sigs: DataFrame,
    num_hashes: int = NUM_HASHES,
    num_bands: int = NUM_BANDS,
) -> DataFrame:
    """(doc_id, band_idx, bucket) banding table from a signature frame —
    the shared front half of candidate generation and bucket auditing."""
    rows_per_band = num_hashes // num_bands
    band_cols = [
        F.md5(
            F.concat_ws(
                "_",
                *[
                    F.element_at(F.col("sig"), b * rows_per_band + r + 1).cast(
                        "string"
                    )
                    for r in range(rows_per_band)
                ],
            ).cast("binary")
        )
        for b in range(num_bands)
    ]
    return sigs.select(
        "doc_id", F.posexplode(F.array(*band_cols)).alias("band_idx", "bucket")
    )


def minhash_lsh_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = NUM_HASHES,
    num_bands: int = NUM_BANDS,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Full MinHash-LSH near-duplicate candidates: signature -> band buckets
    -> bucket self-join -> distinct pairs with the signature-agreement
    Jaccard estimate. Returns (doc_a, doc_b, est_jaccard).

    max_bucket arms the degenerate-bucket guard (functions/lsh_guard): a
    bucket above the cap — e.g. every empty-text doc sharing one signature
    — is excluded from the self-join instead of contributing n^2 pairs.
    The guard DEFAULTS ON as of round 4 (consistency with the simhash and
    embedding band paths): minhash's 32-bit band-hash key resists
    LANGUAGE skew (measured: max bucket 325 on the 25x 90%-en corpus,
    lang_skew_stress), but bucket size still grows LINEARLY with
    exact-duplicate / boilerplate class size — a 10^6-strong boilerplate
    class at corpus scale is a 10^12-pair cell unless exact dedup ran
    first (the ladder) or the cap bites. Oracle-exact declared queries
    pass max_bucket=None explicitly."""
    # The signature table feeds three plan branches (banding + both sides of
    # the agreement join) — cache it so the md5 pass runs once.
    sigs = minhash_signatures_table(docs, id_col, text_col, num_hashes).cache()
    bands = minhash_band_table(sigs, num_hashes, num_bands)
    cand = band_pairs(bands, "doc_id", MINHASH_CELL, max_bucket)
    return minhash_rescore(cand, sigs, num_hashes)


def minhash_rescore(
    cand: DataFrame, sigs: DataFrame, num_hashes: int = NUM_HASHES
) -> DataFrame:
    """(doc_a, doc_b, est_jaccard) for band_pairs candidates: the share of
    signature positions on which the two docs agree."""
    sa = sigs.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"))
    agreement = F.aggregate(
        F.zip_with(
            F.col("sig_a"),
            F.col("sig_b"),
            lambda x, y: (x == y).cast("int"),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            (agreement.cast("double") / F.lit(float(num_hashes))).alias(
                "est_jaccard"
            ),
        )
    )


def _minhash_cand_cte(
    where: str = "", cols: str = "doc_id", source: str = "documents"
) -> str:
    """The MinHash-LSH candidate chain (sig -> banded -> bands -> cand)
    as CTEs appended to _shingled_cte_prefix — the ONE SQL statement of
    the banding scheme, shared by the q_minhash_dedup and q_dedup_recall
    oracles."""
    rows_per_band = NUM_HASHES // NUM_BANDS
    base = f"({_md5_hash64_sql('s')} % {MINHASH_P})"
    mh_exprs = ",\n               ".join(
        f"list_min(list_transform(sh, s -> ({base} * {MINHASH_A[j]}"
        f" + {MINHASH_B[j]}) % {MINHASH_P})) AS mh{j}"
        for j in range(NUM_HASHES)
    )
    band_exprs = ",\n        ".join(
        "md5(concat_ws('_', "
        + ", ".join(
            f"CAST(mh{b * rows_per_band + r} AS VARCHAR)"
            for r in range(rows_per_band)
        )
        + f")) AS band{b}"
        for b in range(NUM_BANDS)
    )
    band_union = "\n        UNION ALL\n        ".join(
        f"SELECT doc_id, {b} AS band_idx, band{b} AS bucket FROM banded"
        for b in range(NUM_BANDS)
    )
    sig_list = "[" + ", ".join(f"mh{j}" for j in range(NUM_HASHES)) + "]"
    return f"""
    {_shingled_cte_prefix(cols=cols, where=where, source=source)}
    , sig AS (
        SELECT doc_id, {mh_exprs}
        FROM shingled
    ), banded AS (
        SELECT doc_id, {sig_list} AS siglist, {band_exprs}
        FROM sig
    ), bands AS (
        {band_union}
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.bucket = b.bucket
         AND a.doc_id < b.doc_id
    )"""


def _minhash_oracle() -> str:
    return f"""
    {_minhash_cand_cte()}
    SELECT doc_a, doc_b,
           CAST(list_sum(list_transform(list_zip(sa.siglist, sb.siglist),
                    p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) AS DOUBLE)
               / {NUM_HASHES} AS est_jaccard
    FROM cand
    JOIN banded sa ON sa.doc_id = doc_a
    JOIN banded sb ON sb.doc_id = doc_b
    """


@declare("q_minhash_dedup", oracle=_minhash_oracle(), tier="P1")
def q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # max_bucket=None: this query's oracle states the UNCAPPED result.
    return minhash_lsh_candidates(docs, max_bucket=None)


@declare(
    "q_ngram_jaccard",
    oracle=f"""
    {_shingled_cte_prefix(cols="doc_id, lang",
                          where=f" WHERE doc_id < {JACCARD_SUBSET}")}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
               AS jaccard
    FROM shingled a JOIN shingled b
      ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.1
    """,
    tier="P1",
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-word-shingle Jaccard over a bounded subset (same lang,
    doc_id < 200) — ground truth for the MinHash estimate. |A∪B| computed as
    |A|+|B|-|A∩B| so both engines evaluate the identical expression."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < JACCARD_SUBSET
    )
    sh = docs.select(
        "doc_id", "lang", word_shingles(F.col("text")).alias("sh")
    )
    a = sh.select(
        F.col("doc_id").alias("doc_a"),
        F.col("lang").alias("lang_a"),
        F.col("sh").alias("sh_a"),
    )
    b = sh.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("sh").alias("sh_b"),
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    jac = inter.cast("double") / union
    return (
        a.join(b, (F.col("lang_a") == F.col("lang_b")) & (F.col("doc_a") < F.col("doc_b")))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.1)
    )


# --- SimHash -----------------------------------------------------------------

def simhash_table(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, simhash) via explode + groupBy: one md5 per token, 32
    bit-sums as map-side-combined aggregates — the scale path (the simhash()
    column expression below re-walks the token array per bit)."""
    exploded = docs.select(
        F.col(id_col).alias("doc_id"),
        *extra_cols,
        F.explode(F.split(_norm_text(F.col(text_col)), r"\s+")).alias("t"),
    ).withColumn("h", md5_hash64(F.col("t")))
    bit_sums = exploded.groupBy("doc_id", *extra_cols).agg(
        *[
            F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1).alias(
                f"s{b}"
            )
            for b in range(bits)
        ]
    )
    fingerprint = F.lit(0).cast("bigint")
    for b in range(bits):
        fingerprint = fingerprint + F.when(
            F.col(f"s{b}") > 0, F.lit(2**b).cast("bigint")
        ).otherwise(F.lit(0))
    return bit_sums.select("doc_id", *extra_cols, fingerprint.alias("simhash"))


def simhash(col: Column, bits: int = SIMHASH_BITS) -> Column:
    """SimHash over word tokens: per bit, sum +1/-1 contributions from each
    token's md5-derived hash; the sign becomes the fingerprint bit."""
    tokens = F.split(_norm_text(col), r"\s+")
    hashes = F.transform(tokens, lambda t: md5_hash64(t))

    def bit_sum(b: int) -> Column:
        return F.aggregate(
            hashes,
            F.lit(0).cast("bigint"),
            lambda acc, h: acc + (F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1),
        )

    bit_sums = [bit_sum(b) for b in range(bits)]
    out = F.lit(0).cast("bigint")
    for b, s in enumerate(bit_sums):
        out = out + F.when(s > 0, F.lit(2**b).cast("bigint")).otherwise(F.lit(0))
    return out


def _simhash_bit_terms_sql() -> str:
    h = _md5_hash64_sql("t")
    return " + ".join(
        f"CASE WHEN list_sum(list_transform(tokens, t -> (({h} >> {b}) & 1) * 2 - 1)) > 0"
        f" THEN CAST({2**b} AS BIGINT) ELSE 0 END"
        for b in range(SIMHASH_BITS)
    )


def _simhash_sh_cte(source: str = "documents") -> str:
    """The shared toks/sh CTE prefix every simhash oracle builds on — ONE
    definition of the fingerprint SQL, so the all-pairs, bounded-exact,
    guarded and ladder oracles cannot silently diverge."""
    return f"""
    WITH toks AS (
        SELECT doc_id, lang,
               string_split_regex({_NORM_SQL.format(col='text')}, '\\s+') AS tokens
        FROM {source}
    ), sh AS (
        SELECT doc_id, lang, {_simhash_bit_terms_sql()} AS simhash
        FROM toks
    )"""


def _simhash_allpairs_sql() -> str:
    return f"""
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sh a JOIN sh b
      ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
    """


def _simhash_oracle() -> str:
    return _simhash_sh_cte() + _simhash_allpairs_sql()


def simhash_banded_pairs(
    sh: DataFrame,
    max_hamming: int = SIMHASH_MAX_HAMMING,
    bits: int = SIMHASH_BITS,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Near-dup pairs from a (doc_id, lang, simhash) table via pigeonhole
    banding — the 100 TB plan. Candidates come from an EQUI-join on
    (lang, chunk_idx, chunk_value) over a skinny exploded banding table
    (3 bigints per row, never the text); the quadratic term is confined to a
    (lang, chunk_idx, chunk_value) cell (~n/2^6 docs at 32/5 chunking).
    Candidates are deduped, re-joined to the fingerprints, and exact-hamming
    re-scored. Recall is exact (see SIMHASH_CHUNKS note), so the result set
    is identical to the all-pairs join — which stays only as the bounded
    ground-truth twin q_simhash_exact.

    The guard DEFAULTS ON (max_bucket=DEFAULT_MAX_BUCKET) as of round 4:
    the (lang, chunk, value) keys concentrate under language skew, and the
    measured 25x 90%-en corpus melted unguarded (52k-doc hot cell, 186M
    candidates, 317 s) while cap=500 held 939k candidates / 3.9 s — see
    tools/lang_skew_stress.py and PLANS.md. The oracle-exact declared
    queries pass max_bucket=None explicitly (the fixture's buckets are all
    tiny, so their uncapped oracles stay the honest contract)."""
    bands = simhash_band_table(sh, bits, max_hamming + 1)
    cand = band_pairs(bands, "doc_id", SIMHASH_CELL, max_bucket)
    return hamming_rescore(cand, sh, max_hamming)


def simhash_band_table(
    sh: DataFrame, bits: int = SIMHASH_BITS, chunks: int = SIMHASH_CHUNKS
) -> DataFrame:
    """(doc_id, lang, chunk_idx, chunk_val) pigeonhole banding table from a
    (doc_id, lang, simhash) frame — the shared front half of candidate
    generation and bucket auditing (minhash_band_table's role)."""
    chunk_cols = [
        F.shiftright(F.col("simhash"), start).bitwiseAND(
            F.lit((1 << width) - 1)
        )
        for start, width in pigeonhole_bounds(bits, chunks)
    ]
    return sh.select(
        "doc_id",
        "lang",
        F.posexplode(F.array(*chunk_cols)).alias("chunk_idx", "chunk_val"),
    )


def hamming_rescore(
    cand: DataFrame, sh: DataFrame, max_hamming: int = SIMHASH_MAX_HAMMING
) -> DataFrame:
    """(doc_a, doc_b, hamming) for band_pairs candidates: exact fingerprint
    hamming distance, kept when <= max_hamming."""
    sim_a = sh.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sim_a"))
    sim_b = sh.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sim_b"))
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        cand.join(sim_a, "id_a")
        .join(sim_b, "id_b")
        .select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


@declare("q_simhash_dedup", oracle=_simhash_oracle(), tier="P1")
def q_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= 4 (same lang), banded:
    the fingerprint is split into 5 pigeonhole chunks and candidates come
    from an equi-join on (lang, chunk_idx, chunk_value) with exact hamming
    re-scoring. Exact recall at hamming <= 4, so the unbanded all-pairs
    oracle hash-matches while the plan stays bucket-bounded at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    sh = simhash_table(docs, extra_cols=("lang",)).cache()
    # max_bucket=None: this query's oracle states the UNCAPPED result;
    # the guarded default is the library path (q_simhash_guarded pins the
    # capped semantics under its own oracle).
    return simhash_banded_pairs(sh, max_bucket=None)


def _simhash_exact_oracle() -> str:
    return (
        _simhash_sh_cte(f"documents WHERE doc_id < {SIMHASH_EXACT_SUBSET}")
        + _simhash_allpairs_sql()
    )


@declare("q_simhash_exact", oracle=_simhash_exact_oracle(), tier="P1")
def q_simhash_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs SimHash hamming over a BOUNDED subset (doc_id < 300) — the
    ground-truth twin for q_simhash_dedup's banded plan, same role as
    q_ngram_jaccard for MinHash and q_neardup_exact for embedding-LSH.
    Deliberately quadratic; the bound is what makes that acceptable."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < SIMHASH_EXACT_SUBSET
    )
    sh = simhash_table(docs, extra_cols=("lang",))
    a = sh.select(
        F.col("doc_id").alias("doc_a"),
        F.col("lang").alias("lang_a"),
        F.col("simhash").alias("sim_a"),
    )
    b = sh.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("simhash").alias("sim_b"),
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        a.join(
            b,
            (F.col("lang_a") == F.col("lang_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
    )


# Cap for the DECLARED guarded variants: small enough to bite on the
# fixture's bucket-size distribution, so the exclusion semantics are
# actually exercised by the oracle comparison (a cap that never fires
# would verify nothing).
GUARD_CAP = 8


def _simhash_chunks_sql() -> str:
    """UNION ALL of the 5 pigeonhole chunk projections over `sh` — the SQL
    twin of simhash_band_table."""
    return "\n        UNION ALL\n        ".join(
        f"SELECT doc_id, lang, {i} AS chunk_idx,"
        f" (simhash >> {start}) & {(1 << width) - 1} AS chunk_val FROM sh"
        for i, (start, width) in enumerate(
            pigeonhole_bounds(SIMHASH_BITS, SIMHASH_CHUNKS)
        )
    )


def _simhash_guarded_oracle() -> str:
    return f"""
    {_simhash_sh_cte()}, chunks AS (
        {_simhash_chunks_sql()}
    ), sized AS (
        SELECT lang, chunk_idx, chunk_val, count(*) AS n
        FROM chunks GROUP BY lang, chunk_idx, chunk_val
    ), kept AS (
        SELECT c.doc_id, c.lang, c.chunk_idx, c.chunk_val
        FROM chunks c JOIN sized s
          ON c.lang = s.lang AND c.chunk_idx = s.chunk_idx
         AND c.chunk_val = s.chunk_val
        WHERE s.n <= {GUARD_CAP}
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM kept a JOIN kept b
          ON a.lang = b.lang AND a.chunk_idx = b.chunk_idx
         AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           bit_count(xor(sa.simhash, sb.simhash)) AS hamming
    FROM cand
    JOIN sh sa ON sa.doc_id = doc_a
    JOIN sh sb ON sb.doc_id = doc_b
    WHERE bit_count(xor(sa.simhash, sb.simhash)) <= {SIMHASH_MAX_HAMMING}
    """


@declare("q_simhash_guarded", oracle=_simhash_guarded_oracle(), tier="P1")
def q_simhash_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_simhash_dedup with the degenerate-bucket guard ARMED at a cap that
    bites on the fixture (GUARD_CAP=8): buckets above the cap are excluded
    from candidate generation, trading documented recall on pathological
    keys for bounded join cost. The oracle re-implements the identical
    exclusion relationally (bucket counts -> filter -> self-join), so the
    guard's semantics — not just its existence — are hash-verified
    cross-engine. Production dials the cap to hundreds (see
    functions/lsh_guard.DEFAULT_MAX_BUCKET); the banded candidate join is
    otherwise the same scale plan as q_simhash_dedup."""
    docs = load_table(spark, sf_dir, "documents")
    sh = simhash_table(docs, extra_cols=("lang",)).cache()
    return simhash_banded_pairs(sh, max_bucket=GUARD_CAP)


def _bucket_audit_oracle() -> str:
    return f"""
    {_simhash_sh_cte()}, chunks AS (
        {_simhash_chunks_sql()}
    )
    SELECT lang, chunk_idx, chunk_val, count(*) AS bucket_n
    FROM chunks
    GROUP BY lang, chunk_idx, chunk_val
    HAVING count(*) > {GUARD_CAP}
    """


@declare("q_lsh_bucket_audit", oracle=_bucket_audit_oracle(), tier="P1")
def q_lsh_bucket_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dropped-bucket accounting for q_simhash_guarded: one row per
    excluded bucket with its size — the explicit record of where the guard
    traded recall. At 100 TB this table is what routes degenerate keys to
    exact dedup instead of silently losing them."""
    docs = load_table(spark, sf_dir, "documents")
    sh = simhash_table(docs, extra_cols=("lang",))
    _, dropped = cap_buckets(simhash_band_table(sh), SIMHASH_CELL, GUARD_CAP)
    return dropped


_NEW_BATCH_SOURCE = "src4"  # the arriving batch; the rest is the corpus


@declare(
    "q_incremental_dedup",
    oracle="""
    WITH fp AS (
        SELECT doc_id, lang, source,
               md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS f
        FROM documents
    ), corpus AS (
        SELECT DISTINCT f FROM fp WHERE source <> 'src4'
    ), batch AS (
        SELECT *,
               row_number() OVER (PARTITION BY f ORDER BY doc_id) AS rn
        FROM fp WHERE source = 'src4'
    )
    SELECT lang,
           count(*) AS n_arrived,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_in_batch,
           CAST(sum(CASE WHEN rn = 1 AND c.f IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_dup_vs_corpus,
           CAST(sum(CASE WHEN rn = 1 AND c.f IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_novel
    FROM batch b LEFT JOIN corpus c USING (f)
    GROUP BY lang
    """,
    tier="P1",
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion dedup: an arriving batch (source = src4) is
    deduplicated FIRST within itself (keep min doc_id per fingerprint),
    then against the standing corpus (anti-join on fingerprint), yielding
    the per-language admission ledger: batch-internal dupes, corpus
    collisions, novel survivors. This is the production shape of a corpus
    that grows daily — the standing side is only the DISTINCT fingerprint
    set (bytes-per-doc constant, Bloom-filter swappable), never the text.

    Plan: fingerprints are a map-only md5 pass; the batch self-dedup is
    one window on f; the corpus probe is a LEFT join on the fingerprint
    hash — at 100 TB both sides shuffle on an evenly-distributed hash,
    and the corpus side ships one row per distinct fingerprint."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", "")
    fp = docs.select(
        "doc_id", "lang", "source", F.md5(norm.cast("binary")).alias("f")
    )
    corpus = (
        fp.filter(F.col("source") != _NEW_BATCH_SOURCE)
        .select("f")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    w = Window.partitionBy("f").orderBy("doc_id")
    batch = fp.filter(F.col("source") == _NEW_BATCH_SOURCE).withColumn(
        "rn", F.row_number().over(w)
    )
    joined = batch.join(corpus, "f", "left")
    first = F.col("rn") == 1
    return joined.groupBy("lang").agg(
        F.count("*").alias("n_arrived"),
        F.sum((~first).cast("bigint")).alias("n_dup_in_batch"),
        F.sum((first & F.col("hit").isNotNull()).cast("bigint")).alias(
            "n_dup_vs_corpus"
        ),
        F.sum((first & F.col("hit").isNull()).cast("bigint")).alias("n_novel"),
    )


BLOOM_BITS_PER_ITEM = 10  # ~0.9% expected false-positive rate


@declare(
    "q_bloom_dedup",
    oracle="""
    WITH fp AS (
        SELECT doc_id, lang, source,
               md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS f
        FROM documents
    ), corpus AS (
        SELECT DISTINCT f FROM fp WHERE source <> 'src4'
    ), batch AS (
        SELECT b.lang, b.f, c.f IS NOT NULL AS in_corpus
        FROM fp b LEFT JOIN corpus c USING (f)
        WHERE b.source = 'src4'
    )
    SELECT lang,
           count(*) AS n_arrived,
           CAST(sum(CASE WHEN NOT in_corpus THEN 1 ELSE 0 END) AS BIGINT)
               AS n_true_novel,
           true AS no_false_negatives,
           true AS fp_within_bound
    FROM batch
    GROUP BY lang
    """,
    tier="P1",
)
def q_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter corpus probing — the constant-memory scale path for
    q_incremental_dedup's anti-join. The standing corpus's distinct
    fingerprints fold into ONE Bloom filter built from first principles
    JVM-side (k=2 positions per item via seeded xxhash64 mod m, m = 10
    bits/item; the set-position array merges by set-union, so map-side
    partials combine), broadcast as a scalar to probe the arriving batch
    — no shuffle of the corpus at probe time, ever. (Production packs the
    position set into a bitmap — Spark's internal BloomFilter does
    exactly this for join pruning but isn't SQL-exposed; the position-set
    form has identical verdict semantics and the same broadcast shape.)

    Estimate-then-audit oracle (the sketch pattern of q_approx_distinct):
    the Bloom verdicts aren't engine-portable, but their CONTRACT is. The
    query joins the exact membership truth in-query and emits (a)
    no_false_negatives — no true duplicate ever probes "novel" (Bloom's
    hard guarantee), and (b) fp_within_bound — false positives within 3x
    the expected (1-e^(-kn/m))^k rate (+10 slack). The oracle asserts
    both true alongside the exact counts."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", "")
    fp = docs.select(
        "doc_id", "lang", "source", F.md5(norm.cast("binary")).alias("f")
    )
    # corpus feeds three branches (sizing count, bloom build, truth join) —
    # cache it so the scan + md5 + distinct shuffle run once.
    corpus = (
        fp.filter(F.col("source") != _NEW_BATCH_SOURCE)
        .select("f")
        .distinct()
        .cache()
    )
    n_corpus = corpus.count()  # sizes the filter; scalar, same as bounds aggs
    m = max(64, n_corpus * BLOOM_BITS_PER_ITEM)

    def positions(col: Column) -> list[Column]:
        return [
            F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(m)) for seed in (1, 2)
        ]

    bloom = (
        corpus.select(F.explode(F.array(*positions(F.col("f")))).alias("p"))
        .distinct()
        .agg(F.sort_array(F.collect_set("p")).alias("bits"))
    )
    batch = fp.filter(F.col("source") == _NEW_BATCH_SOURCE)
    # truth via exact anti-join (distinct corpus side), bloom verdict via
    # the broadcast scalar filter
    truth = corpus.withColumn("hit", F.lit(1))
    p1, p2 = positions(F.col("f"))
    probed = (
        batch.join(truth, "f", "left")
        .crossJoin(F.broadcast(bloom))
        .select(
            "lang",
            F.col("hit").isNotNull().alias("in_corpus"),
            (
                F.array_contains(F.col("bits"), p1)
                & F.array_contains(F.col("bits"), p2)
            ).alias("bloom_hit"),
        )
    )
    agg = probed.groupBy("lang").agg(
        F.count("*").alias("n_arrived"),
        F.sum((~F.col("in_corpus")).cast("bigint")).alias("n_true_novel"),
        # false negative: truly in corpus but bloom says novel — must be 0
        F.sum((F.col("in_corpus") & ~F.col("bloom_hit")).cast("bigint")).alias(
            "n_false_neg"
        ),
        # false positive: truly novel but bloom says dup
        F.sum((~F.col("in_corpus") & F.col("bloom_hit")).cast("bigint")).alias(
            "n_false_pos"
        ),
    )
    # k=2, m=10n -> (1 - e^(-0.2))^2 ~= 3.3%
    expected_fp = 0.033
    return agg.select(
        "lang",
        "n_arrived",
        "n_true_novel",
        (F.col("n_false_neg") == 0).alias("no_false_negatives"),
        (
            F.col("n_false_pos")
            <= F.lit(3 * expected_fp) * F.col("n_true_novel") + F.lit(10)
        ).alias("fp_within_bound"),
    )


def _dedup_ladder_oracle() -> str:
    return f"""
    WITH reps AS (
        SELECT doc_id, lang, text FROM (
            SELECT doc_id, lang, text,
                   row_number() OVER (PARTITION BY md5(text)
                                      ORDER BY doc_id) AS rn
            FROM documents
        ) WHERE rn = 1
    ), toks AS (
        SELECT doc_id, lang,
               string_split_regex({_NORM_SQL.format(col='text')}, '\\s+') AS tokens
        FROM reps
    ), sh AS (
        SELECT doc_id, lang, {_simhash_bit_terms_sql()} AS simhash
        FROM toks
    ), pairs AS (
        SELECT a.lang AS lang, a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
    ), pair_docs AS (
        SELECT lang, doc_a AS d FROM pairs
        UNION
        SELECT lang, doc_b AS d FROM pairs
    ), base AS (
        SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
    ), rep_c AS (
        SELECT lang, count(*) AS n_reps FROM reps GROUP BY lang
    ), pair_c AS (
        SELECT lang, count(*) AS n_pairs FROM pairs GROUP BY lang
    ), pd_c AS (
        SELECT lang, count(DISTINCT d) AS n_pair_docs
        FROM pair_docs GROUP BY lang
    )
    SELECT b.lang,
           CAST(b.n_docs AS BIGINT) AS n_docs,
           CAST(r.n_reps AS BIGINT) AS n_exact_reps,
           CAST(b.n_docs - r.n_reps AS BIGINT) AS n_exact_removed,
           CAST(coalesce(p.n_pairs, 0) AS BIGINT) AS n_neardup_pairs,
           CAST(coalesce(d.n_pair_docs, 0) AS BIGINT) AS n_neardup_docs
    FROM base b
    JOIN rep_c r USING (lang)
    LEFT JOIN pair_c p USING (lang)
    LEFT JOIN pd_c d USING (lang)
    """


@declare("q_dedup_ladder", oracle=_dedup_ladder_oracle(), tier="P1")
def q_dedup_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup LADDER in pipeline order — the lesson the 10x stress
    quantified (PLANS.md round-3 wave): run O(n) exact dedup FIRST, then
    banded near-dup over the representatives only. On the replica-heavy
    stress corpus this is the difference between a 50.6 s and a 2.8 s
    simhash pass, because exact replicas concentrate quadratic candidate
    mass in single LSH cells.

    Stage 1: one representative per md5(text) (window keep-min — one
    shuffle on the hash). Stage 2: pigeonhole-banded simhash pairs among
    representatives (exact recall at hamming <= 4). Output: the per-lang
    ledger — docs in, exact reps/removed, near-dup pairs and distinct
    docs implicated — the admission numbers a curation run reports.
    The oracle recomputes both stages relationally (all-pairs is fine
    DuckDB-side at fixture scale; recall equality makes them match)."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5(F.col("text").cast("binary"))).orderBy(
        "doc_id"
    )
    reps = (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "text")
    )
    sh = simhash_table(reps, extra_cols=("lang",)).cache()
    # max_bucket=None: the oracle states the uncapped stage-2 result (and
    # stage 1 has already collapsed the replica mass that melts buckets).
    # The pair table feeds two consumers (pair count, implicated-doc
    # count) — cache it so the banded self-join + hamming re-score runs
    # once (round 10, guide §1.3 shared subplans).
    pairs = (
        simhash_banded_pairs(sh, max_bucket=None)
        .join(sh.select(F.col("doc_id").alias("doc_a"), "lang"), "doc_a")
        .cache()
    )
    pair_docs = pairs.select("lang", F.col("doc_a").alias("d")).union(
        pairs.select("lang", F.col("doc_b").alias("d"))
    )
    base = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    rep_c = reps.groupBy("lang").agg(F.count("*").alias("n_exact_reps"))
    pair_c = pairs.groupBy("lang").agg(F.count("*").alias("n_neardup_pairs"))
    pd_c = pair_docs.groupBy("lang").agg(
        F.count_distinct("d").alias("n_neardup_docs")
    )
    # Round-11 cache-release experiment REVERTED (measured): forcing the
    # ledger inside the call and unpersisting sh/pairs made every re-run
    # honestly cold (+1.6-2 s min-of-5 interleaved) because Spark's
    # CacheManager otherwise serves plan-identical re-runs from the prior
    # invocation's cached frames — the warm-min behavior BENCH_r10's
    # numbers embed. Caches stay session-scoped (released at teardown);
    # see OPTIMIZATION_r11.md for the full investigation.
    return (
        base.join(rep_c, "lang")
        .join(pair_c, "lang", "left")
        .join(pd_c, "lang", "left")
        .select(
            "lang",
            "n_docs",
            "n_exact_reps",
            (F.col("n_docs") - F.col("n_exact_reps")).alias("n_exact_removed"),
            F.coalesce("n_neardup_pairs", F.lit(0)).alias("n_neardup_pairs"),
            F.coalesce("n_neardup_docs", F.lit(0)).alias("n_neardup_docs"),
        )
    )


PASSAGE_TOKENS = 16  # non-overlapping passage width, in whitespace tokens


def passage_explode(docs: DataFrame, *cols: str) -> DataFrame:
    """(cols..., pidx, passage): non-overlapping PASSAGE_TOKENS-token
    passages per document, built MAP-ONLY (token-array slicing, no
    explode-then-window). THE single definition of "passage" — every
    passage operator (report / source overlap / boilerplate / split
    leakage) builds on this and its SQL twin passages_sql, so a change
    to the width or tokenization cannot desynchronize them."""
    toks = docs.select(*cols, F.split(F.trim("text"), r"\s+").alias("toks"))
    n_p = F.ceil(F.size("toks") / F.lit(PASSAGE_TOKENS)).cast("int")

    def passage(i: Column) -> Column:
        return F.array_join(
            F.slice("toks", i * PASSAGE_TOKENS + 1, PASSAGE_TOKENS), " "
        )

    return toks.select(
        *cols,
        F.posexplode(
            F.transform(F.sequence(F.lit(0), n_p - 1), passage)
        ).alias("pidx", "passage"),
    )


def passage_hashes(docs: DataFrame, *cols: str) -> DataFrame:
    """(cols..., pidx, h): md5-hashed passages."""
    return passage_explode(docs, *cols).select(
        *cols, "pidx", F.md5(F.col("passage").cast("binary")).alias("h")
    )


def passages_sql(exprs: str, names: str) -> str:
    """SQL twin of passage_explode: a WITH chain ending in ``passages``
    (names..., pidx, passage). ``exprs`` are the (possibly computed,
    aliased) key columns selected from documents; ``names`` their output
    names for re-selection downstream."""
    return f"""
    WITH toks AS (
        SELECT {exprs}, string_split_regex(trim(text), '\\s+') AS toks
        FROM documents
    ), np AS (
        SELECT {names}, toks,
               CAST(ceil(len(toks) / {PASSAGE_TOKENS}.0) AS INT) AS n
        FROM toks
    ), passages AS (
        SELECT {names},
               unnest(range(0, n)) AS pidx,
               unnest(list_transform(range(0, n),
                   i -> array_to_string(
                       toks[i * {PASSAGE_TOKENS} + 1 :
                            (i + 1) * {PASSAGE_TOKENS}], ' '))) AS passage
        FROM np
    )"""


@declare(
    "q_passage_dedup",
    oracle=f"""
    {passages_sql('doc_id, lang', 'doc_id, lang')}
    , hashed AS (
        SELECT doc_id, lang, pidx, md5(passage) AS h FROM passages
    ), winners AS (
        SELECT h, min(ROW(doc_id, pidx)) AS w FROM hashed GROUP BY h
    ), kept AS (
        SELECT hh.doc_id, hh.lang, hh.pidx,
               (w.w = ROW(hh.doc_id, hh.pidx)) AS keep
        FROM hashed hh JOIN winners w USING (h)
    )
    SELECT doc_id, lang,
           count(*) AS n_passages,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(count(*) - sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
               / count(*) AS dup_ratio
    FROM kept GROUP BY doc_id, lang
    """,
    tier="P2",
)
def q_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level exact dedup (the C4/RefinedWeb recipe, one level below
    document dedup): chunk every document into non-overlapping 16-token
    passages, hash each, keep only the globally-first occurrence (min
    (doc_id, pidx)), and report per-document survivorship. Catches the
    boilerplate q_exact_dedup cannot — documents that are distinct as
    wholes but share repeated passages.

    Scale notes (100 TB): passage construction is MAP-ONLY (token-array
    slicing via transform/slice — no explode-then-window); the dedup is one
    shuffle keyed on the passage hash (groupBy-min with map-side combine,
    shuffle volume = distinct passages), the winner join re-uses that key,
    and the report aggregates by doc_id. No stage is quadratic; a
    pathological passage ("" from whitespace runs) concentrates on one hash
    key like any hot groupBy key — AQE skew handling applies, and the
    passage width dials granularity vs key cardinality."""
    return passage_report(load_table(spark, sf_dir, "documents"))


def passage_report(docs: DataFrame) -> DataFrame:
    """The q_passage_dedup core over an arbitrary documents frame — also a
    curate.py pipeline stage (documents with dup_ratio above a threshold
    are boilerplate-heavy and get dropped there)."""
    hashed = passage_hashes(docs, "doc_id", "lang")
    winners = hashed.groupBy("h").agg(F.min(F.struct("doc_id", "pidx")).alias("w"))
    kept = hashed.join(winners, "h").select(
        "doc_id",
        "lang",
        (
            (F.col("w.doc_id") == F.col("doc_id"))
            & (F.col("w.pidx") == F.col("pidx"))
        ).alias("keep"),
    )
    return kept.groupBy("doc_id", "lang").agg(
        F.count("*").alias("n_passages"),
        F.sum(F.col("keep").cast("bigint")).alias("n_kept"),
        (
            (F.count("*") - F.sum(F.col("keep").cast("bigint"))).cast("double")
            / F.count("*")
        ).alias("dup_ratio"),
    )


OVERLAP_CAP = 10  # hashes in more sources than this are boilerplate — excluded


@declare(
    "q_source_overlap",
    oracle=f"""
    {passages_sql('source', 'source')}
    , hs AS (
        SELECT DISTINCT source, md5(passage) AS h FROM passages
    ), spread AS (
        SELECT h, count(*) AS n_sources FROM hs GROUP BY h
    ), eligible AS (
        SELECT hs.source, hs.h FROM hs JOIN spread USING (h)
        WHERE n_sources BETWEEN 2 AND {OVERLAP_CAP}
    ), per_src AS (
        SELECT source, count(*) AS n_passages FROM hs GROUP BY source
    ), pairs AS (
        SELECT a.source AS src_a, b.source AS src_b,
               count(*) AS n_shared
        FROM eligible a JOIN eligible b
          ON a.h = b.h AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT src_a, src_b, CAST(n_shared AS BIGINT) AS n_shared,
           CAST(n_shared * 10000 //
                (pa.n_passages + pb.n_passages - n_shared) AS BIGINT)
               AS jaccard_bp
    FROM pairs
    JOIN per_src pa ON pa.source = src_a
    JOIN per_src pb ON pb.source = src_b
    """,
    tier="P2",
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: which pairs of sources share
    16-token passages, and how much (distinct shared passages + Jaccard
    basis points over each pair's distinct-passage sets). The provenance
    question a curation run asks before mixing crawls: is src A a mirror
    of src B?

    Scale notes (100 TB): distinct (source, passage-hash) pairs are one
    map-side-combined shuffle; the pair join is an equi-join on the hash
    whose within-key blowup is quadratic in SOURCES SHARING THAT PASSAGE —
    so universal boilerplate ("click here to subscribe", shared by every
    domain) is EXCLUDED by the n_sources <= {OVERLAP_CAP} spread cap (the
    lsh_guard lesson applied to provenance; at web scale the cap is the
    difference between |pairs| ~ shared-content volume and |domains|^2).
    Capped-out hashes are boilerplate by definition and belong to a
    boilerplate report, not an overlap matrix.

    The distinct (source, h) set feeds FOUR consumers (both self-join
    branches, the spread cap, the per-source totals): left lazy, Spark
    recomputes the tokenize+shingle+md5+distinct subtree for each — four
    corpus scans (measured 1.02 s vs 0.74 s at sf0.1; at 100 TB the
    difference is the whole job). Materialize it once (localCheckpoint),
    and the twice-consumed eligible set on top of it."""
    docs = load_table(spark, sf_dir, "documents")
    hs = (
        passage_hashes(docs, "source")
        .select("source", "h")
        .distinct()
        .localCheckpoint(eager=True)
    )
    spread = hs.groupBy("h").agg(F.count("*").alias("n_sources"))
    eligible = (
        hs.join(
            spread.filter(
                (F.col("n_sources") >= 2)
                & (F.col("n_sources") <= OVERLAP_CAP)
            ),
            "h",
        )
        .select("source", "h")
        .localCheckpoint(eager=True)
    )
    per_src = hs.groupBy("source").agg(F.count("*").alias("n_passages"))
    a = eligible.select(F.col("source").alias("src_a"), "h")
    b = eligible.select(F.col("source").alias("src_b"), "h")
    pairs = (
        a.join(b, "h")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        pairs.join(
            per_src.select(
                F.col("source").alias("src_a"),
                F.col("n_passages").alias("pa"),
            ),
            "src_a",
        )
        .join(
            per_src.select(
                F.col("source").alias("src_b"),
                F.col("n_passages").alias("pb"),
            ),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            F.col("n_shared").cast("bigint").alias("n_shared"),
            F.expr(
                "CAST(n_shared * 10000 div (pa + pb - n_shared) AS BIGINT)"
            ).alias("jaccard_bp"),
        )
    )


# -- maximal duplicated-span detection -------------------------------------

SPAN_TOKENS = 8  # stride-1 shingle width: the minimal span that counts

# Shared by q_substring_dedup and s_substring_stream: the stream's
# converged spans must equal the batch answer (shingle counts are
# associative — batch boundaries cannot change which shingles reach 2).
SUBSTR_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
        FROM documents
    ), sh AS (
        SELECT doc_id,
               unnest(range(0, len(toks) - {SPAN_TOKENS} + 1)) AS pos,
               unnest(list_transform(range(0, len(toks) - {SPAN_TOKENS} + 1),
                   i -> array_to_string(
                       toks[i + 1 : i + {SPAN_TOKENS}], ' '))) AS h
        FROM toks WHERE len(toks) >= {SPAN_TOKENS}
    ), dup AS (
        SELECT h FROM sh GROUP BY h HAVING count(*) > 1
    ), marked AS (
        SELECT sh.doc_id, sh.pos,
               sh.pos - row_number() OVER (
                   PARTITION BY sh.doc_id ORDER BY sh.pos) AS grp
        FROM sh JOIN dup USING (h)
    )
    SELECT doc_id,
           CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(pos) - min(pos) + {SPAN_TOKENS} AS BIGINT) AS span_tokens,
           CAST(count(*) AS BIGINT) AS n_shingles
    FROM marked GROUP BY doc_id, grp
    """


@declare("q_substring_dedup", oracle=SUBSTR_ORACLE, tier="P1")
def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated-SPAN detection — the ExactSubstr recipe (dedup
    repeated substrings, not whole docs or fixed blocks; Lee et al.'s
    "Deduplicating Training Data Makes Language Models Better" suffix-array
    pass, re-expressed relationally): every stride-1 {SPAN_TOKENS}-token
    shingle that occurs >= 2 times corpus-wide (across OR within
    documents) marks its start position as duplicated; consecutive
    duplicated positions per document merge into maximal spans
    (gaps-and-islands: pos - row_number is constant exactly on a
    consecutive run). One row per maximal span with its token extent —
    the input a span-trimming curation pass consumes. Complements
    q_passage_dedup (fixed non-overlapping blocks miss spans straddling
    block boundaries; stride-1 shingles cannot).

    Scale notes (100 TB): stride-1 shingling is MAP-ONLY and emits
    O(total tokens) rows — ~16x q_passage_dedup's row count, the honest
    price of boundary-exact spans (the suffix array pays the same
    linear blowup). Duplicate marking is one map-side-combined groupBy
    on the shingle hash; the mark-back join is hash-equi with fan-out 1
    (dup is a DISTINCT set); islands are a per-doc window (partition =
    doc, never corpus-wide). Universal boilerplate concentrates on one
    COUNT key — never a pair join, so there is no quadratic regime to
    guard (the structural advantage over the pairwise dedups above)."""
    docs = load_table(spark, sf_dir, "documents")
    # sh feeds BOTH the duplicate-marking groupBy and the mark-back join —
    # left lazy, Spark recomputes the scan+shingle+md5 subtree (the whole
    # cost) for each consumer; materialize it once (the q_source_overlap
    # lesson). A window-count formulation would also single-scan but
    # buffers each hash partition in one task — hot boilerplate shingles
    # make that the worse trade.
    sh = shingle_positions(docs).localCheckpoint(eager=True)
    dup = sh.groupBy("h").count().filter(F.col("count") > 1).select("h")
    return spans_from_marked(sh.join(dup, "h"))


def shingle_positions(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, h): every stride-1 SPAN_TOKENS-token shingle of
    every document, by start position. The RAW shingle text is the key —
    grouping by a hash of it would only save ~2 bytes/row of shuffle
    while paying two full md5 passes over O(total tokens) rows (and
    introducing a cross-engine collision surface the oracle can't see).
    Map-only; shared by q_substring_dedup and s_substring_stream."""
    toks = docs.select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("toks")
    ).filter(F.size("toks") >= SPAN_TOKENS)

    def shingle(i: Column) -> Column:
        return F.array_join(F.slice("toks", i + 1, SPAN_TOKENS), " ")

    return toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - SPAN_TOKENS), shingle
            )
        ).alias("pos", "h"),
    )


def spans_from_marked(marked: DataFrame) -> DataFrame:
    """Gaps-and-islands: merge consecutive duplicated positions per doc
    into maximal spans (pos - row_number is constant exactly on a run)."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = marked.withColumn(
        "grp", F.col("pos") - F.row_number().over(w)
    )
    return runs.groupBy("doc_id", "grp").agg(
        F.min("pos").cast("bigint").alias("span_start"),
        (F.max("pos") - F.min("pos") + SPAN_TOKENS)
        .cast("bigint")
        .alias("span_tokens"),
        F.count("*").alias("n_shingles"),
    ).select("doc_id", "span_start", "span_tokens", "n_shingles")


BOILERPLATE_TOPN = 10


@declare(
    "q_boilerplate_report",
    oracle=f"""
    {passages_sql('source', 'source')}
    , ranked AS (
        SELECT passage,
               count(DISTINCT source) AS n_sources,
               count(*) AS n_occurrences,
               row_number() OVER (
                   ORDER BY count(DISTINCT source) DESC, count(*) DESC,
                            md5(passage) ASC) AS rn
        FROM passages GROUP BY passage
        HAVING count(DISTINCT source) >= 2
    )
    SELECT passage, CAST(n_sources AS BIGINT) AS n_sources,
           CAST(n_occurrences AS BIGINT) AS n_occurrences, rn AS rank
    FROM ranked WHERE rn <= {BOILERPLATE_TOPN}
    """,
    tier="P2",
)
def q_boilerplate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The boilerplate report q_source_overlap's spread cap routes to: the
    top-{BOILERPLATE_TOPN} most widely-spread passages (by distinct sources,
    then total occurrences), with the passage TEXT — what a curator actually
    reads to write the next cleaning rule ("click here to subscribe").

    Scale notes: one map-side-combined aggregate on the passage string
    (shuffle volume = distinct passages, like q_passage_dedup), then a
    TakeOrdered top-N — no global sort. The count(DISTINCT source) inside
    one aggregate is safe here because the group key is the passage itself
    (no multi-column Expand trap); at extreme source cardinality swap in
    approx_count_distinct, same plan."""
    docs = load_table(spark, sf_dir, "documents")
    passages = passage_explode(docs, "source").select("source", "passage")
    order = [
        F.col("n_sources").desc(),
        F.col("n_occurrences").desc(),
        F.md5(F.col("passage").cast("binary")).asc(),
    ]
    top = (
        passages.groupBy("passage")
        .agg(
            F.count_distinct("source").alias("n_sources"),
            F.count("*").alias("n_occurrences"),
        )
        .filter(F.col("n_sources") >= 2)
        .orderBy(*order)
        .limit(BOILERPLATE_TOPN)  # TakeOrderedAndProject, never a global sort
    )
    # rank attaches over the already-reduced TOPN rows (constant-size window)
    return top.withColumn("rank", F.row_number().over(Window.orderBy(*order))).select(
        "passage",
        F.col("n_sources").cast("bigint").alias("n_sources"),
        F.col("n_occurrences").cast("bigint").alias("n_occurrences"),
        "rank",
    )


# --- Containment dedup (inverted shingle index) -----------------------------

# Containment C(A in B) = |sh(A) & sh(B)| / |sh(A)| catches SUBSET
# duplication — a doc quoted or embedded inside a larger one — which
# symmetric Jaccard dilutes toward 0 as the host document grows. The
# candidate generator is the production inverted-index shape: self-join on
# the shingle, never on the document pair.
CONTAIN_DF_CAP = 50  # shingles in more docs than this are boilerplate
CONTAIN_MIN_BP = 8000  # containment >= 0.80, in exact basis points


def _containment_oracle() -> str:
    return f"""
    {_shingled_cte_prefix()}
    , srows AS (
        SELECT doc_id, unnest(sh) AS s FROM shingled
    ), df AS (
        SELECT s, count(*) AS df FROM srows GROUP BY s
    ), pruned AS (
        SELECT r.doc_id, r.s FROM srows r JOIN df USING (s)
        WHERE df.df <= {CONTAIN_DF_CAP}
    ), sizes AS (
        SELECT doc_id, count(*) AS size_a FROM pruned GROUP BY doc_id
    ), shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               count(*) AS n_shared
        FROM pruned a JOIN pruned b
          ON a.s = b.s AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_shared, size_a,
           n_shared * 10000 // size_a AS containment_bp
    FROM shared JOIN sizes ON sizes.doc_id = shared.doc_a
    WHERE n_shared * 10000 // size_a >= {CONTAIN_MIN_BP}
    """


def containment_pairs(
    docs: DataFrame,
    df_cap: int = CONTAIN_DF_CAP,
    min_bp: int = CONTAIN_MIN_BP,
) -> DataFrame:
    """Directed containment pairs over an arbitrary documents frame — the
    q_containment_dedup core, reusable on any (doc_id, text) input."""
    srows = shingle_rows(docs).distinct()
    df_counts = srows.groupBy("s").agg(F.count("*").alias("df"))
    # The df cap is the scale guard: a boilerplate shingle shared by d
    # documents fans out d*(d-1) ordered pairs through the index join, so
    # without the cap one hot shingle ("all rights reserved ...") goes
    # quadratic exactly like a hot LSH bucket (q_lsh_bucket_audit). With
    # it, pair count <= cap * |pruned rows| — linear in the corpus.
    # Three consumers (sizes, both index-join sides) — cache the pruned
    # index so the shingle explode + distinct + df join run once
    # (round 10, guide §1.3 shared subplans).
    pruned = (
        srows.join(df_counts.filter(F.col("df") <= df_cap), "s")
        .select("doc_id", "s")
        .cache()
    )
    sizes = pruned.groupBy("doc_id").agg(F.count("*").alias("size_a"))
    a = pruned.select(F.col("doc_id").alias("doc_a"), "s")
    b = pruned.select(F.col("doc_id").alias("doc_b"), "s")
    shared = (
        a.join(b, "s")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
    )
    # Round 11 cache hygiene (guide §5): the pair table is bounded by
    # df_cap * |pruned rows| while the pruned index is the full corpus
    # shingle set — force the result eagerly and release the index.
    out = (
        shared.join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumn(
            "containment_bp", F.expr("n_shared * 10000 div size_a")
        )
        .filter(F.col("containment_bp") >= min_bp)
        .select("doc_a", "doc_b", "n_shared", "size_a", "containment_bp")
        .localCheckpoint(eager=True)
    )
    pruned.unpersist()
    return out


@declare("q_containment_dedup", oracle=_containment_oracle(), tier="P1")
def q_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed near-duplicate pairs by shingle CONTAINMENT >= 0.80 (exact
    integer basis points — no float crosses the engine boundary): doc_a is
    contained in doc_b when >= 80% of doc_a's distinct 3-word shingles also
    appear in doc_b. The asymmetric complement to q_ngram_jaccard: catches
    quotes/embeddings of whole documents inside larger ones.

    Scale notes (100 TB): candidates come from an inverted-index EQUI-join
    on the shingle — never a document-pair join — with a document-frequency
    cap (df <= CONTAIN_DF_CAP=50) pruning boilerplate shingles, which bounds
    the per-shingle fanout at cap^2 ordered pairs and the total at
    cap * corpus-shingle-rows. Three shuffles total (shingle df, pair
    count, doc sizes), each with map-side partial aggregation; the sizes
    join is a small frame AQE can broadcast. The fixture's max df is 7, so
    the cap prunes nothing at test scale — the planted-boilerplate unit
    test (tests/test_containment.py) is what exercises it."""
    return containment_pairs(load_table(spark, sf_dir, "documents"))



# --- MinHash-LSH recall audit (the dedup stack audits itself) ---------------

TRUE_JACCARD = 0.5  # ground-truth near-dup bar for the recall audit
RECALL_SUBSET = 500  # covers every planted dup at the driver's sf0.01


def _dedup_recall_oracle() -> str:
    jac = """CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))"""
    return f"""
    {_minhash_cand_cte(where=f" WHERE doc_id < {RECALL_SUBSET}",
                       cols="doc_id, lang")}
    , truth AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, {jac} AS jaccard
        FROM shingled a JOIN shingled b
          ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE {jac} >= {TRUE_JACCARD}
    )
    SELECT t.doc_a, t.doc_b, t.jaccard,
           c.doc_a IS NOT NULL AS candidate
    FROM truth t LEFT JOIN cand c
      ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
    """


@declare("q_dedup_recall", oracle=_dedup_recall_oracle(), tier="P1")
def q_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup stack audits itself — q_ann_recall's honesty loop applied
    to MinHash-LSH: every ground-truth near-dup pair (same-lang Jaccard >=
    0.5 on the bounded subset) is marked with whether the banded LSH
    candidate generator surfaced it. Both the truth side and the candidate
    side run under ONE oracle, so the published recall is itself
    hash-verified. The Jaccard threshold test is a division of identical
    integers — bitwise engine-portable.

    Scale notes: the truth side is the deliberately bounded ground-truth
    twin (doc_id < RECALL_SUBSET=500, sized to cover every planted
    dup at the driver's correctness SF); the candidate
    side is the production banded equi-join restricted to the same
    subset (banding is per-document, so subset candidates equal
    full-corpus candidates filtered to the subset). Production recall
    audits sample exactly like this."""
    docs = load_table(spark, sf_dir, "documents")
    bounded = docs.filter(F.col("doc_id") < RECALL_SUBSET)
    sh = bounded.select(
        "doc_id", "lang", word_shingles(F.col("text")).alias("sh")
    )
    a = sh.select(
        F.col("doc_id").alias("doc_a"),
        "lang",
        F.col("sh").alias("sh_a"),
    )
    b = sh.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("sh").alias("sh_b"),
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter.cast("double") / (
        F.size("sh_a") + F.size("sh_b") - inter
    )
    truth = (
        a.join(b, (a.lang == b.lang_b) & (F.col("doc_a") < F.col("doc_b")))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= TRUE_JACCARD)
    )
    cands = minhash_lsh_candidates(bounded, max_bucket=None).select(
        "doc_a", "doc_b", F.lit(True).alias("cand_hit")
    )
    return (
        truth.join(cands, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            F.coalesce("cand_hit", F.lit(False)).alias("candidate"),
        )
    )


def _dedup_precision_oracle() -> str:
    jac = """CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
               / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))"""
    return f"""
    {_minhash_cand_cte(where=f" WHERE doc_id < {RECALL_SUBSET}",
                       cols="doc_id, lang")}
    SELECT c.doc_a, c.doc_b, {jac} AS jaccard,
           {jac} >= {TRUE_JACCARD} AS is_true_dup
    FROM cand c
    JOIN shingled sa ON sa.doc_id = c.doc_a
    JOIN shingled sb ON sb.doc_id = c.doc_b
    """


@declare("q_dedup_precision", oracle=_dedup_precision_oracle(), tier="P1")
def q_dedup_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The precision complement to q_dedup_recall: every LSH candidate
    pair on the bounded subset is re-scored with its TRUE Jaccard and
    marked against the ground-truth bar — what fraction of the banded
    join's output is real (the cost side of the band dial, where recall
    is the benefit side). Same single-oracle construction: candidates
    and their true scores are hash-verified together.

    Scale notes: exact re-scoring of candidates is the production
    post-filter every LSH pipeline runs (dedup.py's banded paths all
    do); this query is that stage with the verdict column kept."""
    docs = load_table(spark, sf_dir, "documents")
    bounded = docs.filter(F.col("doc_id") < RECALL_SUBSET)
    sh = bounded.select(
        "doc_id", word_shingles(F.col("text")).alias("sh")
    )
    cands = minhash_lsh_candidates(bounded, max_bucket=None).select(
        "doc_a", "doc_b"
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter.cast("double") / (
        F.size("sh_a") + F.size("sh_b") - inter
    )
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            jac.alias("jaccard"),
            (jac >= TRUE_JACCARD).alias("is_true_dup"),
        )
    )


def _editdist_oracle() -> str:
    # DuckDB's levenshtein counts BYTES where Spark counts CHARS, so the
    # distance runs on the [a-z0-9 ] normalization (bytes == chars there)
    # — the same canonical form the exact-dedup fingerprint uses.
    norm = "regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')"
    return f"""
    {_minhash_cand_cte()}
    , norm AS (
        SELECT doc_id, {norm} AS t FROM documents
    )
    SELECT c.doc_a, c.doc_b,
           CAST(levenshtein(a.t, b.t) AS BIGINT) AS edit_dist,
           CAST((greatest(len(a.t), len(b.t), 1)
                 - levenshtein(a.t, b.t)) * 10000
                // greatest(len(a.t), len(b.t), 1) AS BIGINT) AS sim_bp
    FROM cand c
    JOIN norm a ON a.doc_id = c.doc_a
    JOIN norm b ON b.doc_id = c.doc_b
    """


@declare("q_editdist_rescore", oracle=_editdist_oracle(), tier="P1")
def q_editdist_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact edit-distance re-scoring of the MinHash-LSH candidates — the
    third exact post-filter lens after true-Jaccard (q_dedup_precision)
    and hamming (q_simhash_dedup's re-score): per candidate pair, the
    Levenshtein distance over canonical [a-z0-9 ] text plus a relative
    similarity in integer basis points, (max_len - dist) * 10000 //
    max_len — all-integer so the threshold crossing is engine-exact.
    Distance runs on the ASCII normalization because DuckDB's levenshtein
    counts bytes while Spark's counts characters; on that alphabet they
    are the same function (pinned in tests/test_dedup_modules.py).

    Scale notes (100 TB): Levenshtein is O(len_a * len_b) PER PAIR — it
    can only ever run as a candidate post-filter, never a generator; here
    it touches exactly the banded join's output (guard-bounded at scale),
    joined to one skinny (doc_id, norm_text) projection. This is the
    production shape of fuzzy-dedup verification (candidates from LSH,
    verdicts from the exact measure)."""
    docs = load_table(spark, sf_dir, "documents")
    norm = docs.select(
        "doc_id",
        F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", "").alias("t"),
    )
    cands = minhash_lsh_candidates(docs, max_bucket=None).select(
        "doc_a", "doc_b"
    )
    a = norm.select(F.col("doc_id").alias("doc_a"), F.col("t").alias("ta"))
    b = norm.select(F.col("doc_id").alias("doc_b"), F.col("t").alias("tb"))
    dist = F.levenshtein("ta", "tb")
    mx = F.greatest(F.length("ta"), F.length("tb"), F.lit(1))
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            dist.cast("bigint").alias("edit_dist"),
            F.expr(
                "CAST((greatest(length(ta), length(tb), 1)"
                " - levenshtein(ta, tb)) * 10000"
                " div greatest(length(ta), length(tb), 1) AS BIGINT)"
            ).alias("sim_bp"),
        )
    )


# Cap for the DECLARED minhash guard twins: the fixture's band buckets
# top out at 3-13 members, so cap=2 is what makes the exclusion
# semantics actually fire under the oracle compare at EVERY SF (the
# GUARD_CAP=8 rationale, one notch tighter for the smaller buckets).
MINHASH_AUDIT_CAP = 2


def _minhash_guarded_oracle() -> str:
    return f"""
    {_minhash_cand_cte()}
    , sized AS (
        SELECT band_idx, bucket, count(*) AS n
        FROM bands GROUP BY band_idx, bucket
    ), kept AS (
        SELECT b.doc_id, b.band_idx, b.bucket
        FROM bands b JOIN sized s
          ON b.band_idx = s.band_idx AND b.bucket = s.bucket
        WHERE s.n <= {MINHASH_AUDIT_CAP}
    ), gcand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM kept a JOIN kept b
          ON a.band_idx = b.band_idx AND a.bucket = b.bucket
         AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(list_sum(list_transform(list_zip(sa.siglist, sb.siglist),
                    p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) AS DOUBLE)
               / {NUM_HASHES} AS est_jaccard
    FROM gcand
    JOIN banded sa ON sa.doc_id = doc_a
    JOIN banded sb ON sb.doc_id = doc_b
    """


@declare("q_minhash_guarded", oracle=_minhash_guarded_oracle(), tier="P1")
def q_minhash_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_minhash_dedup with the bucket guard ARMED at a cap that bites on
    the fixture (MINHASH_AUDIT_CAP=2): band buckets above the cap are
    excluded from candidate generation, and the oracle re-implements the
    identical exclusion relationally — completing the guarded/audit twin
    surface for all three banded generators (simhash had it since round
    3, embedding sign-LSH gets its audit below). Production runs the
    DEFAULT_MAX_BUCKET cap this module's generators now default to."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_candidates(docs, max_bucket=MINHASH_AUDIT_CAP)


@declare(
    "q_minhash_bucket_audit",
    oracle=f"""
    {_minhash_cand_cte()}
    SELECT band_idx, bucket, count(*) AS bucket_n
    FROM bands GROUP BY band_idx, bucket
    HAVING count(*) > {MINHASH_AUDIT_CAP}
    """,
    tier="P1",
)
def q_minhash_bucket_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dropped-bucket accounting for q_minhash_guarded — one row per
    excluded band bucket with its size, q_lsh_bucket_audit's role for the
    MinHash generator. At 100 TB this table is the boilerplate-class
    detector: a bucket the cap drops is (overwhelmingly) one equivalence
    class of near-identical text that exact dedup collapses cheaply."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures_table(docs, "doc_id", "text", NUM_HASHES)
    _, dropped = cap_buckets(
        minhash_band_table(sigs), MINHASH_CELL, MINHASH_AUDIT_CAP
    )
    return dropped


def _consensus_oracle() -> str:
    # Each member oracle is a self-contained WITH..SELECT; nesting them as
    # CTE bodies keeps their internal CTE names scoped (no collisions).
    return f"""
    WITH mh AS (
        {_minhash_oracle()}
    ), sh AS (
        {_simhash_oracle()}
    ), ed AS (
        {_editdist_oracle()}
    )
    SELECT coalesce(mh.doc_a, sh.doc_a, ed.doc_a) AS doc_a,
           coalesce(mh.doc_b, sh.doc_b, ed.doc_b) AS doc_b,
           mh.est_jaccard,
           sh.hamming,
           ed.sim_bp,
           CAST((CASE WHEN mh.doc_a IS NOT NULL THEN 1 ELSE 0 END)
              + (CASE WHEN sh.doc_a IS NOT NULL THEN 1 ELSE 0 END)
              + (CASE WHEN ed.doc_a IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_signals
    FROM mh
    FULL OUTER JOIN sh ON sh.doc_a = mh.doc_a AND sh.doc_b = mh.doc_b
    FULL OUTER JOIN ed ON ed.doc_a = coalesce(mh.doc_a, sh.doc_a)
                      AND ed.doc_b = coalesce(mh.doc_b, sh.doc_b)
    """


@declare("q_dedup_consensus", oracle=_consensus_oracle(), tier="P1")
def q_dedup_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ensemble near-dup ledger: the three TEXT signals — MinHash-LSH
    candidates (est_jaccard), banded SimHash (hamming <= 4), and the
    Levenshtein re-score of the LSH candidates (sim_bp) — full-outer
    merged per (doc_a, doc_b) with a signal count. This is the decision
    table a curation run thresholds (e.g. remove at n_signals >= 2):
    signals fail differently (shingle Jaccard misses word-order edits
    simhash catches; simhash misses short texts minhash catches), and
    the consensus is the standard precision lever over any single one.

    Scale notes (100 TB): the Levenshtein member's pair set IS the
    MinHash candidate set (it re-scores those candidates), so the plan
    computes the signature/banding chain ONCE and attaches sim_bp to the
    minhash pairs directly — the oracle's third outer join is a no-op by
    construction and only the simhash merge is a real full-outer join,
    keyed on (doc_a, doc_b) over candidate-pair outputs (orders of
    magnitude smaller than the corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    mh = minhash_lsh_candidates(docs, max_bucket=None)
    norm = docs.select(
        "doc_id",
        F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", "").alias("t"),
    )
    a = norm.select(F.col("doc_id").alias("doc_a"), F.col("t").alias("ta"))
    b = norm.select(F.col("doc_id").alias("doc_b"), F.col("t").alias("tb"))
    med = (
        mh.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            F.expr(
                "CAST((greatest(length(ta), length(tb), 1)"
                " - levenshtein(ta, tb)) * 10000"
                " div greatest(length(ta), length(tb), 1) AS BIGINT)"
            ).alias("sim_bp"),
        )
    )
    sh = q_simhash_dedup(spark, sf_dir)
    joined = med.join(sh, ["doc_a", "doc_b"], "full_outer")
    # Three independent presence checks, structurally mirroring the
    # oracle's three CASE clauses (review r5): est_jaccard and sim_bp
    # happen to share one pair set today, but counting sim_bp on its
    # own means a future threshold/guard on either member cannot
    # silently desync the signal count from the oracle.
    n_signals = (
        F.when(F.col("est_jaccard").isNotNull(), 1).otherwise(0)
        + F.when(F.col("hamming").isNotNull(), 1).otherwise(0)
        + F.when(F.col("sim_bp").isNotNull(), 1).otherwise(0)
    )
    return joined.select(
        "doc_a",
        "doc_b",
        "est_jaccard",
        "hamming",
        "sim_bp",
        n_signals.cast("bigint").alias("n_signals"),
    )
