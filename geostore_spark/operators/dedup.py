"""Deduplication operators over the ``documents`` table.

Four dedup families, all expressed as declarative DataFrame plans:

- exact          — content-hash groupBy (one shuffle on the digest)
- minhash_lsh    — word-bigram shingles → 32-perm MinHash → 8x4 LSH bands
                   → band-bucket self-join → candidate pairs with estimated
                   Jaccard. The standard near-dup pipeline at corpus scale:
                   cost is O(N·shingles) + the band-bucket join, never O(N²).
- simhash        — 32-bit SimHash fingerprint per document (token-hash bit
                   voting), the constant-space near-dup sketch.
- ngram_jaccard  — exact word-trigram Jaccard via inverted-index self-join
                   (shared-shingle candidates only — the relational
                   formulation that scales, vs. a cross join that doesn't).

Hashing is md5-prefix → bigint so the DuckDB oracle reproduces values
exactly (verified identical in both engines). MinHash permutations are
(a_i·h + b_i) mod p with p = 2^31-1; h is reduced mod p first so every
product stays < 2^62 (DuckDB raises on int64 overflow — silent wraparound
would diverge).

Library entry points (`exact_dedup`, `minhash_signatures`, `lsh_pairs`,
`simhash`, `ngram_jaccard_pairs`) operate on any DataFrame with
(id_col, text_col); the registered queries demonstrate them on `documents`.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from geostore_spark.operators.util import (
    choose_tier,
    pin_branch_point,
    rebalance_for_python,
)
from geostore_spark.registry import register
from geostore_spark.sources.tables import load_table, load_table_for_compute

P = 2_147_483_647  # 2^31 - 1
NUM_PERM = 32
BANDS = 8
ROWS_PER_BAND = NUM_PERM // BANDS

_rng = random.Random(1234)
_A = [_rng.randrange(1, P) for _ in range(NUM_PERM)]
_B = [_rng.randrange(0, P) for _ in range(NUM_PERM)]

JACCARD_THRESHOLD = 0.5


# -- shared hash helpers ----------------------------------------------------


def _md5_32(col: Column) -> Column:
    """First 32 bits of md5 as a non-negative bigint (same value in DuckDB
    via ('0x' || substring(md5(x),1,8))::BIGINT)."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 8), 16, 10).cast("bigint")


def _duck_md5_32(expr: str) -> str:
    return f"('0x' || substring(md5({expr}), 1, 8))::BIGINT"


# -- exact dedup ------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-level exact-duplicate summary by content digest."""
    digest = F.md5(F.col(text_col).cast("binary"))
    return df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(digest).alias("n_unique"),
        (F.count(F.lit(1)) - F.count_distinct(digest)).alias("n_dupes"),
    )


@register(
    "x_dedup_exact",
    "Exact dedup via content-hash aggregation: one shuffle on md5(text); "
    "at 100 TB pre-shard on the digest prefix (see x_text_fingerprint).",
    """SELECT COUNT(*) AS n_docs, COUNT(DISTINCT md5(text)) AS n_unique,
              COUNT(*) - COUNT(DISTINCT md5(text)) AS n_dupes
       FROM documents""",
)
def q_exact(spark: SparkSession, sf: str) -> DataFrame:
    return exact_dedup(load_table_for_compute(spark, "documents", sf))


# -- minhash + LSH ----------------------------------------------------------


def _bigrams(text_col: str) -> Column:
    """Distinct word-bigram shingles as an array column (JVM higher-order
    fns; no Python). Mirrors shingling in the MinHash literature.

    NOTE: higher-order lambdas evaluate interpreted (CodegenFallback);
    for the exploded-stream pipelines use ``shingle_rows`` instead —
    same rows, ~10× cheaper. This Column form remains for callers that
    need the array in place."""
    return F.expr(
        f"array_distinct(zip_with("
        f"  slice(split({text_col}, ' '), 1, size(split({text_col}, ' ')) - 1),"
        f"  slice(split({text_col}, ' '), 2, size(split({text_col}, ' ')) - 1),"
        f"  (a, b) -> concat(a, ' ', b)))"
    )


def shingle_rows(
    df: DataFrame, id_col: str, text_col: str, n: int, rebalance: bool = True
) -> DataFrame:
    """Distinct word n-gram shingles as an exploded (id, s) stream.

    Arrow-batched Python instead of nested zip_with/array_distinct
    expressions: Spark evaluates higher-order lambdas interpreted
    (CodegenFallback), so the expression form costs ~2 s per pass over
    the sf0.1 corpus while this pass is ~0.3 s. Emits the shingle
    STRING; hashing stays a codegen'd JVM projection downstream, so
    oracle-reproducible hash arithmetic is unchanged.

    ``rebalance=False`` skips the small-input round-robin repartition —
    required for streaming inputs (the partition probe touches ``.rdd``,
    illegal on a streaming DataFrame, and micro-batches arrive already
    split)."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            ids: list = []
            outs: list = []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                words = t.split(" ")
                grams = (
                    {" ".join(words[j : j + n]) for j in range(len(words) - n + 1)}
                    if len(words) >= n
                    else set()
                )
                ids.extend([i] * len(grams))
                outs.extend(grams)
            yield pd.DataFrame({id_col: ids, "s": outs})

    src = df.select(id_col, text_col)
    if rebalance:
        src = rebalance_for_python(src)
    return src.mapInPandas(gen, f"{id_col} long, s string")


def minhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document 32-perm MinHash signature as ONE array column ``sig``.

    Shape: explode shingles → hash once → groupBy(id) with 32 ``min``
    aggregates → pack into an array. The 32 mins partial-aggregate
    map-side (shingles of a doc are co-located with the doc row), so the
    shuffle carries ~one 32-long row per document — not the shingle
    stream. This codegen'd form beats the tempting zero-shuffle
    higher-order-function version by ~10×: Spark evaluates lambda
    expressions interpreted (CodegenFallback), so 32 perms × shingles of
    nested-``transform`` work dominates everything else.
    """
    shingled = shingle_rows(df, id_col, text_col, 2)
    base = _md5_32(F.col("s")) % P
    mins = [
        F.min((F.lit(_A[i]) * base + F.lit(_B[i])) % P).alias(f"m{i}")
        for i in range(NUM_PERM)
    ]
    agged = shingled.groupBy(id_col).agg(*mins)
    return agged.select(
        F.col(id_col), F.array(*[F.col(f"m{i}") for i in range(NUM_PERM)]).alias("sig")
    )


def minhash_signature_col(hashes_col: str) -> Column:
    """Stateless per-row MinHash signature (array<bigint>) from a column
    of shingle hashes already reduced mod P — the streaming-safe form of
    ``minhash_signatures`` (no groupBy, no state, works inside a
    micro-batch projection). Interpreted higher-order functions, so per
    row it is slower than the exploded aggregation form — use that for
    batch corpora; this form exists for stream-static screening where a
    stateful aggregation would stall behind the watermark. Identical
    values to the batch signatures by construction."""
    def perm(i: int):
        # NB: the lambda must be single-arg — transform() passes the
        # element index to two-arg lambdas, so an `i=i` default would
        # silently rebind i to the index Column
        a, b = _A[i], _B[i]
        return F.array_min(
            F.transform(F.col(hashes_col), lambda h: (F.lit(a) * h + F.lit(b)) % P)
        )

    return F.array(*[perm(i) for i in range(NUM_PERM)])


def shingle_hashes_col(text_col: str) -> Column:
    """Per-row bigram shingle hashes mod P (array<bigint>), matching the
    exploded ``shingle_rows``+md5 pipeline value-for-value."""
    return F.transform(
        _bigrams(text_col),
        lambda s: F.conv(F.substring(F.md5(s.cast("binary")), 1, 8), 16, 10).cast(
            "bigint"
        )
        % P,
    )


def band_table(sig: DataFrame, id_col: str) -> DataFrame:
    """(id, band, bh) LSH band-bucket rows from a signature frame. Two
    docs share a (band, bh) bucket iff their 4 row-mins in that band are
    identical (the hash only compresses the tuple), so bucket joins are
    engine-independent."""
    band_hashes = [
        F.xxhash64(
            F.concat_ws(
                ",",
                *[
                    F.element_at("sig", b * ROWS_PER_BAND + r + 1).cast("string")
                    for r in range(ROWS_PER_BAND)
                ],
            )
        )
        for b in range(BANDS)
    ]
    return sig.select(
        F.col(id_col),
        F.posexplode(F.array(*band_hashes)).alias("band", "bh"),
    )


def lsh_pairs(sig: DataFrame, id_col: str) -> DataFrame:
    """Candidate near-dup pairs from banded LSH over a signature frame
    (one ``sig`` array column), with the estimated Jaccard (fraction of
    agreeing minhashes). Only the 8-rows-per-doc band table shuffles; at
    scale the bucket join is the standard corpus-dedup fan-in, never
    O(N²)."""
    bands = band_table(sig, id_col)
    x, y = bands.alias("x"), bands.alias("y")
    pairs = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bh") == F.col("y.bh"))
            & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
        )
        .select(F.col(f"x.{id_col}").alias("doc_a"), F.col(f"y.{id_col}").alias("doc_b"))
        .distinct()
    )
    sa = sig.select(F.col(id_col).alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col(id_col).alias("doc_b"), F.col("sig").alias("sig_b"))
    agree = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda p, q: p == q), lambda eq: eq)
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", F.round(agree / F.lit(float(NUM_PERM)), 4).alias("est_jaccard"))
    )


def _minhash_oracle() -> str:
    perm_mins = ",\n              ".join(
        f"MIN(({_A[i]} * b + {_B[i]}) % {P}) AS m{i}" for i in range(NUM_PERM)
    )
    band_rows = "\n         UNION ALL\n         ".join(
        "SELECT doc_id, {b} AS band, md5(concat_ws(',', {cols})) AS bh FROM sig".format(
            b=b,
            cols=", ".join(f"m{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)),
        )
        for b in range(BANDS)
    )
    agree = " + ".join(f"CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END" for i in range(NUM_PERM))
    return f"""
       WITH tok AS (
         SELECT doc_id, unnest(list_distinct(list_transform(
                  range(1, len(string_split(text, ' '))),
                  i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
                ))) AS sh
         FROM documents
       ),
       h AS (
         SELECT doc_id, {_duck_md5_32("sh")} % {P} AS b FROM tok
       ),
       sig AS (
         SELECT doc_id,
              {perm_mins}
         FROM h GROUP BY doc_id
       ),
       band AS (
         {band_rows}
       ),
       pair AS (
         SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         FROM band x JOIN band y
           ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
       )
       SELECT p.doc_a, p.doc_b, ROUND(({agree}) / {float(NUM_PERM)}, 4) AS est_jaccard
       FROM pair p JOIN sig sa ON p.doc_a = sa.doc_id
                   JOIN sig sb ON p.doc_b = sb.doc_id
       ORDER BY doc_a, doc_b"""


@register(
    "x_dedup_minhash_lsh",
    "MinHash+LSH near-dup candidate pairs: word-bigram shingles → 32-perm "
    "signature → 8 bands of 4 → bucket self-join. Never materializes the "
    "O(N²) pair space.",
    _minhash_oracle(),
)
def q_minhash(spark: SparkSession, sf: str) -> DataFrame:
    # The signature table is the session-shared scaffold: three consumers
    # here (band table, both re-rank sides) plus minhash_eval and the
    # incremental screen would otherwise each recompute the shingle scan
    # + 32-min aggregate. At warehouse scale this is "write the signature
    # table, then join against it" — the standard corpus-dedup shape.
    return lsh_pairs(shared_minhash_sig(spark, sf), "doc_id").orderBy(
        "doc_a", "doc_b"
    )


# -- simhash ----------------------------------------------------------------


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """32-bit SimHash fingerprint per document: per-bit ±1 voting over
    token hashes, sign → bit.

    Zero shuffles either way (the sketch is per-row), but the expression
    form — nested ``aggregate``/``zip_with`` lambdas over every token —
    evaluates interpreted (CodegenFallback), so this runs as one
    Arrow-batched pass instead: md5-prefix token hashes (bit-identical
    to the oracle's ``('0x' || substring(md5(w),1,8))::BIGINT``), a
    (tokens × 32) sign matrix, and a segment-sum per document — all
    numpy except the md5 loop. Scales with bytes scanned, the 100 TB
    requirement for a sketch pass."""
    import hashlib

    import numpy as np
    import pandas as pd

    def fingerprint(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            tokens: list = []
            counts: list = []
            for t in pdf[text_col]:
                ws = t.split(" ")
                tokens.extend(ws)
                counts.append(len(ws))
            md5 = hashlib.md5
            th = np.fromiter(
                (
                    int.from_bytes(md5(w.encode("utf-8")).digest()[:4], "big")
                    for w in tokens
                ),
                dtype=np.uint32,
                count=len(tokens),
            )
            # votes_b > 0  ⟺  2·(count of set bits) > token count, so only
            # the 0/1 bit matrix is materialized (uint32, ~1/4 the memory
            # of a ±1 int64 sign matrix); token rows are doc-contiguous →
            # segment-sum via reduceat
            bits = (th[:, None] >> np.arange(32, dtype=np.uint32)) & 1
            starts = np.zeros(len(ids), dtype=np.int64)
            np.cumsum(counts[:-1], out=starts[1:])
            ones = np.add.reduceat(bits, starts, axis=0).astype(np.int64)
            n_tok = np.asarray(counts, dtype=np.int64)[:, None]
            fp = ((2 * ones > n_tok).astype(np.int64) << np.arange(32, dtype=np.int64)).sum(
                axis=1
            )
            yield pd.DataFrame({id_col: ids, "simhash32": fp})

    return rebalance_for_python(df.select(id_col, text_col)).mapInPandas(
        fingerprint, f"{id_col} long, simhash32 long"
    )


def shared_simhash_fps(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash fingerprints of the documents table, computed ONCE per
    session × SF and eagerly localCheckpointed.

    Four registered queries (simhash, simhash_pairs, simhash_eval, and
    graph.py's dedup_clusters) sketch the SAME corpus; before round 8
    each invocation re-ran the Arrow md5 token pass — and a band
    self-join evaluated it once PER SIDE (~2.75 M md5 calls each at
    sf1). The shared_supply_pairs pattern applies verbatim: one
    |docs|-row two-long checkpoint, every consumer feeds its band
    explode from it; at warehouse scale this is "write the fingerprint
    table once, join against it" — the standard corpus-dedup shape."""
    from geostore_spark.operators.util import session_checkpoint

    def build() -> DataFrame:
        docs = load_table_for_compute(spark, "documents", sf)
        return simhash(docs, "doc_id", "text")

    return session_checkpoint(spark, ("simhash_fps", sf), build)


def shared_minhash_sig(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash signature table of the documents corpus, computed ONCE
    per session × SF and eagerly localCheckpointed — the scaffold
    behind minhash_lsh, minhash_eval, and incremental dedup, whose
    band tables all derive from this one frame by a shuffle-free
    posexplode. The incremental screen's band self-probe previously
    evaluated the shingle+32-permutation Arrow pass once per join
    side per invocation."""
    from geostore_spark.operators.util import session_checkpoint

    def build() -> DataFrame:
        docs = load_table_for_compute(spark, "documents", sf)
        return minhash_signatures(docs, "doc_id", "text")

    return session_checkpoint(spark, ("minhash_sig", sf), build)


def _simhash_oracle() -> str:
    votes = ",\n              ".join(
        f"SUM(CASE WHEN (th >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}" for b in range(32)
    )
    fp = " + ".join(f"CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(32))
    return f"""
       WITH tok AS (
         SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
       ),
       h AS (SELECT doc_id, {_duck_md5_32("word")} AS th FROM tok),
       v AS (
         SELECT doc_id,
              {votes}
         FROM h GROUP BY doc_id
       )
       SELECT doc_id, CAST({fp} AS BIGINT) AS simhash32
       FROM v ORDER BY doc_id LIMIT 200"""


@register(
    "x_dedup_simhash",
    "SimHash 32-bit fingerprints: token-hash bit voting, constant space "
    "per doc; near-dups are fingerprints within small Hamming distance.",
    _simhash_oracle(),
)
def q_simhash(spark: SparkSession, sf: str) -> DataFrame:
    return shared_simhash_fps(spark, sf).orderBy("doc_id").limit(200)


HAMMING_MAX = 3
SIMHASH_BANDS = HAMMING_MAX + 1  # pigeonhole: ≤3 flipped bits → ≥1 intact band
SIMHASH_PAIRS_TOP = 100_000  # driver-materialization cap on the pair feed


def simhash_pairs(
    fingerprints: DataFrame,
    id_col: str,
    max_hamming: int = HAMMING_MAX,
    input_pinned: bool = False,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Near-dup pairs whose 32-bit simhash fingerprints differ in at most
    ``max_hamming`` bits, found without an O(N²) comparison.

    Pigeonhole multi-index (Manku et al., WWW'07 lineage): split the
    fingerprint into ``max_hamming + 1`` bands; any pair within the
    distance budget matches EXACTLY on at least one band, so candidates
    come from equi-joins on (band, band_value) and the verify is one
    codegen'd ``bit_count(a ^ b)``. Fingerprints ride along in the band
    rows (8 bytes), so no re-join for the verify; multi-band matches
    collapse in a distinct over the (small) verified output.

    At scale each band index is a shuffle key — candidates per bucket
    stay ~N/2^band_bits on a dispersed corpus, and the band table is 4
    rows per doc. Measured at sf1 (50 k word-soup docs, one hub bucket
    of 13.9 k): the candidate join + bit_count verify stream 277 M
    candidates in ~2.4 s each and are NOT the cost — the query is
    output-volume-bound (6.9 M true Hamming<=3 pairs survive; their
    distinct + canonical sort + driver materialization dominate, and the
    single-node oracle pays the same). At 100 TB the pairs feed a sink
    or a downstream join, never a driver collect.

    ``bucket_cap`` is the production candidate-density guard (default
    None = exact, the registered-oracle semantics): (band, bval)
    buckets holding more than ``bucket_cap`` docs are EXCLUDED from the
    candidate join. A pair is lost only if every band it agrees on is
    a hub bucket — on a dispersed corpus that is the near-dup-cluster
    core the cap is there to bound (dedup pipelines handle those via
    the exact-digest pass first). The bucket census is at most
    ``bands × 2^band_bits`` rows (1024 here), so the guard costs one
    tiny aggregate + broadcast semi join. The companion scale lever is
    fingerprint width: 32-bit/4-band keeps the oracle dialect-exact,
    but a 100 TB corpus needs 64-bit fingerprints with ≥12-bit bands
    so E|bucket| = N/2^bits stays bounded (same plan, wider keys).
    """
    width = 32 // SIMHASH_BANDS  # 8 bits per band
    bands = fingerprints.select(
        F.col(id_col),
        F.col("simhash32").alias("fp"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("simhash32", b * width)
                        .bitwiseAND((1 << width) - 1)
                        .alias("bval"),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "fp", F.col("bk.band").alias("band"), F.col("bk.bval").alias("bval"))
    # both join sides read the band table; without a checkpoint the
    # Arrow-batched fingerprint pass (the md5 token loop) evaluates once
    # PER SIDE — measured as a secondary cost at sf1 (50 k docs ≈ 2.75 M
    # md5 calls per evaluation). 4 rows/doc of 4 longs: tiny to pin.
    # ``input_pinned`` callers (the shared_simhash_fps scaffold) skip the
    # pin: the band explode over already-checkpointed fingerprints is a
    # shuffle-free select, and re-deriving it per side is cheaper than
    # materializing + re-reading a second checkpoint (r7 verdict lever).
    if not input_pinned:
        bands = bands.transform(pin_branch_point)
    if bucket_cap is not None:
        ok = (
            bands.groupBy("band", "bval")
            .agg(F.count(F.lit(1)).alias("bn"))
            .filter(F.col("bn") <= bucket_cap)
            .select("band", "bval")
        )
        bands = bands.join(F.broadcast(ok), ["band", "bval"], "left_semi")
    a, b = bands.alias("a"), bands.alias("b")
    hamming = F.expr("bit_count(fp_a ^ fp_b)")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
        )
        .filter(hamming <= max_hamming)
        .select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
        .distinct()
    )


def simhash_pairs_ctes() -> str:
    """The pair-mining pipeline as reusable DuckDB CTE clauses (everything
    after ``WITH``): ``tok``/``h``/``v``/``f``/``bands``. Shared by the
    pairs oracle and the connected-components oracle in ``graph.py``."""
    votes = ",\n              ".join(
        f"SUM(CASE WHEN (th >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}" for b in range(32)
    )
    fp = " + ".join(f"CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(32))
    width = 32 // SIMHASH_BANDS
    band_rows = "\n         UNION ALL\n         ".join(
        f"SELECT doc_id, fp, {b} AS band, (fp >> {b * width}) & {(1 << width) - 1} AS bval FROM f"
        for b in range(SIMHASH_BANDS)
    )
    return f"""tok AS (
         SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
       ),
       h AS (SELECT doc_id, {_duck_md5_32("word")} AS th FROM tok),
       v AS (
         SELECT doc_id,
              {votes}
         FROM h GROUP BY doc_id
       ),
       f AS (SELECT doc_id, CAST({fp} AS BIGINT) AS fp FROM v),
       bands AS (
         {band_rows}
       )"""


def _simhash_pairs_oracle() -> str:
    return f"""
       WITH {simhash_pairs_ctes()}
       SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
              CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
       FROM bands a JOIN bands b
         ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
       WHERE bit_count(xor(a.fp, b.fp)) <= {HAMMING_MAX}
       ORDER BY doc_a, doc_b LIMIT {SIMHASH_PAIRS_TOP}"""


@register(
    "x_dedup_simhash_pairs",
    "SimHash near-dup pairs within Hamming distance 3 via the pigeonhole "
    "multi-index: 4 band equi-joins instead of O(N²) fingerprint "
    "comparisons; verify is one bit_count(xor).",
    _simhash_pairs_oracle(),
)
def q_simhash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    # The FULL pair set is still mined and verified (the band joins,
    # bit_count verify and distinct all run over every candidate); only
    # the driver materialization is capped — at sf1 the true-pair
    # output is 6.9 M rows, and sorting + collecting them dominated the
    # query (29 s, vs ~2.4 s each for the 277 M-candidate join and
    # verify). At 100 TB near-dup pairs feed a sink or a downstream
    # join, never a driver collect; the ORDER BY + LIMIT head is the
    # bench-able stand-in, and it turns the global sort into a
    # TakeOrdered on both engines.
    fps = shared_simhash_fps(spark, sf)
    return (
        simhash_pairs(fps, "doc_id", input_pinned=True)
        .orderBy("doc_a", "doc_b")
        .limit(SIMHASH_PAIRS_TOP)
    )


# -- exact n-gram jaccard ---------------------------------------------------


def _trigrams(text_col: str) -> Column:
    return F.expr(
        f"array_distinct(zip_with("
        f"  zip_with("
        f"    slice(split({text_col}, ' '), 1, size(split({text_col}, ' ')) - 2),"
        f"    slice(split({text_col}, ' '), 2, size(split({text_col}, ' ')) - 2),"
        f"    (a, b) -> concat(a, ' ', b)),"
        f"  slice(split({text_col}, ' '), 3, size(split({text_col}, ' ')) - 2),"
        f"  (ab, c) -> concat(ab, ' ', c)))"
    )


# Verify-side join dispatch: below this many DOCUMENTS the doc→hash-array
# table broadcasts (50 k docs × ~300 tokens × 8 B ≈ 120 MB worst case);
# past it the verify runs as two id-keyed shuffle joins of the identical
# plan shape. The signal is the input's parquet-metadata row count — free
# (footer statistics, no scan) and non-blocking, unlike the measured
# sum-of-array-sizes job this replaces: a driver-blocking count per query
# serialized the FAIR-scheduler throughput pass. Same runtime-dispatch
# idea as graph.py's edge-budget strategy pick, with a cheaper sensor;
# a production deployment with wildly variable doc lengths would swap in
# table-level stats (ANALYZE) instead.
VERIFY_BROADCAST_MAX_DOCS = 50_000


def _broadcast_doc_side(stage: str, n_docs: int) -> bool:
    """The doc-keyed broadcast-vs-shuffle decision of the verify joins."""
    tiers = [("broadcast", VERIFY_BROADCAST_MAX_DOCS), ("shuffle", None)]
    return choose_tier(stage, tiers, n_docs=n_docs) == "broadcast"


def _count_rows_cheap(df: DataFrame) -> int:
    """Row count from parquet footer statistics when the plan is
    row-preserving over a scan (Project/alias only — no Filter/Join/
    Aggregate can change the count): reads ``num_rows`` from each file's
    footer on the driver, launching NO Spark job, so it never serializes
    concurrent FAIR-scheduler streams. Derived inputs (filtered,
    joined, synthesized) and many-file tables fall back to ``df.count()``
    — a real, blocking job, which is why the fast path is checked first."""
    _ROW_PRESERVING = ("Project", "SubqueryAlias", "Relation", "View")
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
        nodes = [
            ln.lstrip(" :+-") for ln in plan.splitlines() if ln.lstrip(" :+-")
        ]
        if all(n.startswith(_ROW_PRESERVING) for n in nodes):
            files = df.inputFiles()
            # driver-side footer loop: bounded — a huge table's listing
            # goes through the distributed fallback instead
            if files and len(files) <= 64:
                from urllib.parse import unquote, urlparse

                import pyarrow.parquet as pq

                total = 0
                for f in files:
                    path = unquote(urlparse(f).path) if "://" in f else f
                    total += pq.ParquetFile(path).metadata.num_rows
                return total
    except Exception:
        pass
    return df.count()


def _df_ordered_docs_arr(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_docs: int | None = None,
    with_dfs: bool = False,
) -> DataFrame:
    """Per-doc shingle-hash arrays in GLOBAL document-frequency-ascending
    order (ties by hash) — the PPJoin prefix order. Rarest-first prefixes
    are what make the prefix filter selective: a hot token ("the city of")
    appears in thousands of documents, and if it lands in prefixes the
    candidate join blows up quadratically on it; df-ascending order pushes
    hot tokens to the array tails, which are never indexed. Measured on
    the sf0.1 corpus: hash-ordered prefixes → 430 k candidates, df-ordered
    → far fewer, with the hot-token quadratic term gone.

    Cost: one extra partial-aggregated shuffle over the (doc, token)
    stream to count df, then a token-keyed join to tag each occurrence.
    The df table is vocabulary-sized (sublinear in corpus size, Heaps'
    law); it broadcasts below the doc-count budget and falls back to a
    shuffle join above it (at true corpus scale an approximate-df sketch
    pass is the standard swap-in).

    Returns (id_col, hs array<bigint> in (df, hash) order, n), plus an
    aligned per-token ``dfs`` array when ``with_dfs`` — built ONLY on
    request (it lets the candidate index apply a hub-token cap without
    re-joining the df table, but roughly doubles the per-token payload
    of a checkpoint the verify joins never read, so the default capless
    path skips it)."""
    if n_docs is None:
        n_docs = _count_rows_cheap(df)
    # checkpoint the Arrow shingle pass: it feeds BOTH the df table and
    # the tagging-join probe side — without this the Python pass runs
    # twice inside the one action
    sh = (
        shingle_rows(df, id_col, text_col, 3)
        .select(F.col(id_col), F.xxhash64("s").alias("sh"))
        .transform(pin_branch_point)
    )
    df_tab = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("tdf"))
    if _broadcast_doc_side("dedup_df_table", n_docs):
        df_tab = F.broadcast(df_tab)
    cols = [
        F.col(id_col),
        F.expr("transform(toks, x -> x.sh)").alias("hs"),
        F.size("toks").alias("n"),
    ]
    if with_dfs:
        cols.insert(2, F.expr("transform(toks, x -> x.tdf)").alias("dfs"))
    return (
        sh.join(df_tab, "sh")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_set(F.struct("tdf", "sh"))).alias("toks"))
        .select(*cols)
        # consumed by the prefix index AND the verify join — materialize once
        .transform(pin_branch_point)
    )


def _verify_join(
    cand: DataFrame, docs_arr: DataFrame, id_col: str, n_docs: int
) -> DataFrame:
    """Attach both sides' shingle arrays to candidate pairs for an exact
    codegen verify. ``docs_arr`` must have columns (id_col, hs, n).
    Dispatches broadcast vs shuffle join on the corpus doc count — no
    driver-side materialization of corpus state in either path, and no
    extra blocking job for the decision."""
    arr_a = docs_arr.select(
        F.col(id_col).alias("doc_a"), F.col("hs").alias("hs_a"), F.col("n").alias("n_a")
    )
    arr_b = docs_arr.select(
        F.col(id_col).alias("doc_b"), F.col("hs").alias("hs_b"), F.col("n").alias("n_b")
    )
    if _broadcast_doc_side("dedup_verify_join", n_docs):
        arr_a, arr_b = F.broadcast(arr_a), F.broadcast(arr_b)
    return cand.join(arr_a, "doc_a").join(arr_b, "doc_b")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = JACCARD_THRESHOLD,
    df_cap: int | None = None,
) -> DataFrame:
    """Exact word-trigram Jaccard ≥ threshold via a PPJoin-style
    prefix-filtered inverted index (Xiao et al., WWW'08 lineage).

    A plain shared-shingle self-join admits every pair sharing even ONE
    trigram — measured 1.13 M candidate pairs on the sf0.1 corpus, ~90 %
    of them sharing exactly one. The prefix filter kills those cheaply:
    order each document's shingle-hash set ascending; any pair with
    Jaccard ≥ t must share a token among the first ``n - ceil(t·n) + 1``
    tokens of each side, so only that prefix is indexed. A length filter
    (``t·na ≤ nb ≤ na/t``) rides the same join. Measured 1.13 M → 310 k
    candidates.

    The global token order is document-frequency ascending, ties by
    hash (the PPJoin default; ``_df_ordered_docs_arr``): rarest-first
    prefixes keep corpus-hot tokens out of the index, killing the
    quadratic candidate blowup hot tokens otherwise cause in the
    equi-join (measured at sf0.1: 430 k → 310 k candidates vs the
    hash-ordered prefix on this near-uniform corpus; the gap widens on
    any real Zipfian vocabulary, which is what the order is for).

    Scale shape: one shuffle to group shingles per doc (plus the df
    tagging pass), a prefix-only self-join (~half the index), then an
    exact verify as a codegen'd ``array_intersect`` join against the
    same ``docs_arr`` frame — broadcast when the corpus table is small,
    two id-keyed shuffle joins past the broadcast budget
    (``_verify_join`` dispatches at runtime). No corpus state ever
    touches the driver.

    ``df_cap`` is the production candidate-density guard (default None
    = exact, the registered-oracle semantics): prefix tokens whose
    document frequency exceeds the cap are never INDEXED — candidate
    generation per token is then bounded by C(df_cap, 2) while the
    exact verify still sees every token (the arrays are untouched). A
    pair is lost only when every prefix token it shares is a hub; on a
    Zipfian vocabulary that means boilerplate-only overlap, which is
    what the cap is there to bound."""
    t = threshold
    n_docs = _count_rows_cheap(df)
    docs_arr = _df_ordered_docs_arr(
        df, id_col, text_col, n_docs, with_dfs=df_cap is not None
    )
    prefix_cols = [
        F.col(id_col),
        F.col("n"),
        F.posexplode(
            F.slice(F.col("hs"), 1, (F.col("n") - F.ceil(t * F.col("n")) + 1).cast("int"))
        ).alias("p", "sh"),
    ]
    if df_cap is not None:
        prefix_cols.insert(2, F.col("dfs"))
    prefix = docs_arr.select(*prefix_cols)
    if df_cap is not None:
        # dfs is aligned with hs and the slice starts at element 1, so
        # the sliced position p (0-based) indexes dfs at p + 1
        prefix = prefix.filter(
            F.element_at("dfs", F.col("p") + 1) <= df_cap
        ).drop("dfs")
    a, b = prefix.alias("a"), prefix.alias("b")
    # PPJoin POSITION filter: tokens share one global order, so a match at
    # 0-based positions (pa, pb) caps the reachable overlap at
    # min(na - pa, nb - pb); J >= t needs overlap >= ceil(t/(1+t)*(na+nb)).
    # The 1e-9 backs off one ulp so ceil of an exactly-integer rational
    # can't round up and falsely dismiss a boundary pair (measured at
    # sf0.1: 310 k -> 125 k candidates on top of the prefix+length filters).
    minov = F.ceil(((F.col("a.n") + F.col("b.n")) * t / (1 + t)) - 1e-9)
    cand = a.join(
        b,
        (F.col("a.sh") == F.col("b.sh"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        & (F.col("b.n") >= F.ceil(t * F.col("a.n")))
        & (F.col("b.n") <= F.floor(F.col("a.n") / t))
        & (F.least(F.col("a.n") - F.col("a.p"), F.col("b.n") - F.col("b.p")) >= minov),
    ).select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
    # NO mid-pipeline distinct: a pair sharing several prefix tokens is
    # intersected once per shared token, but the candidate stream then
    # pipelines straight through the broadcast verify inside one codegen
    # stage instead of materializing at a shuffle barrier — measured 2.3x
    # faster end-to-end; the dedup moves to the verified pairs (tiny).
    # exact intersect JVM-side; ROUND is HALF_UP, matching the oracle's
    # away-from-zero (Python's round() is banker's and diverges on
    # exact-tie rationals like 17/32)
    i = F.size(F.array_intersect("hs_a", "hs_b"))
    j = i / (F.col("n_a") + F.col("n_b") - i)
    return (
        _verify_join(cand, docs_arr, id_col, n_docs)
        .withColumn("j", j)
        .filter(F.col("j") >= t)
        .select("doc_a", "doc_b", F.round("j", 4).alias("jaccard"))
        .dropDuplicates(["doc_a", "doc_b"])
    )


CONTAINMENT_THRESHOLD = 0.8


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = CONTAINMENT_THRESHOLD,
    df_cap: int | None = None,
) -> DataFrame:
    """Asymmetric trigram containment |A∩B| / |A| ≥ threshold: detects
    doc-in-doc duplication (quotes, boilerplate wrappers, page-in-crawl
    re-scrapes) that Jaccard misses — a short doc embedded in a long one
    has high containment but low Jaccard, since the union is dominated by
    the container's extra tokens.

    Same inverted-index idea as ``ngram_jaccard_pairs`` with the filters
    adapted to asymmetry: the contained side A keeps the prefix filter
    (a qualifying pair must share a token among A's first
    ``n_a - ceil(t·n_a) + 1`` tokens in the global df-ascending order,
    see ``_df_ordered_docs_arr``), and the container side B — which
    admits no length bound (B may be arbitrarily larger) — gets the
    PPJoin POSITION filter instead: both token lists share the same
    global order, so a match at 0-based position ``pos_b`` caps the
    reachable overlap at ``n_b - pos_b``; pairs with
    ``n_b - pos_b < ceil(t·n_a)`` can never qualify and never leave the
    join. Exact verify is a codegen'd ``array_intersect`` join against
    the doc→hash-array table (``_verify_join``: broadcast under the
    budget, two id-keyed shuffle joins past it) — no Python in either
    path.

    ``df_cap``: same production hub-token guard as
    ``ngram_jaccard_pairs`` — tokens with document frequency over the
    cap are dropped from BOTH index sides (the contained side's prefix
    and the container side's full posting list) while the exact verify
    still intersects complete arrays. Default None = exact.
    """
    t = threshold
    n_docs = _count_rows_cheap(df)
    capped = df_cap is not None
    docs_arr = _df_ordered_docs_arr(
        df, id_col, text_col, n_docs, with_dfs=capped
    )
    pa_cols = [
        F.col(id_col).alias("doc_a"),
        F.col("n").alias("n_a"),
        F.posexplode(
            F.slice(F.col("hs"), 1, (F.col("n") - F.ceil(t * F.col("n")) + 1).cast("int"))
        ).alias("p_a", "sh"),
    ]
    pb_cols = [
        F.col(id_col).alias("doc_b"),
        F.col("n").alias("n_b"),
        F.posexplode("hs").alias("pos_b", "sh"),
    ]
    if capped:
        pa_cols.insert(2, F.col("dfs"))
        pb_cols.insert(2, F.col("dfs"))
    pa = docs_arr.select(*pa_cols)
    pb = docs_arr.select(*pb_cols)
    if capped:
        pa = pa.filter(F.element_at("dfs", F.col("p_a") + 1) <= df_cap)
        pb = pb.filter(F.element_at("dfs", F.col("pos_b") + 1) <= df_cap)
        pa, pb = pa.drop("dfs"), pb.drop("dfs")
    pa = pa.drop("p_a")
    # no mid-pipeline distinct: stream candidates straight through the
    # broadcast verify in one codegen stage (same rationale as
    # ngram_jaccard_pairs — the shuffle barrier costs more than repeated
    # intersects), dedup the verified pairs at the end
    cand = pa.join(
        pb,
        (pa["sh"] == pb["sh"])
        & (F.col("doc_a") != F.col("doc_b"))
        & (F.col("n_b") - F.col("pos_b") >= F.ceil(t * F.col("n_a"))),
    ).select("doc_a", "doc_b")
    c = F.size(F.array_intersect("hs_a", "hs_b")) / F.col("n_a")
    return (
        _verify_join(cand, docs_arr, id_col, n_docs)
        .withColumn("c", c)
        .filter(F.col("c") >= t)
        .select("doc_a", "doc_b", F.round("c", 4).alias("containment"))
        .dropDuplicates(["doc_a", "doc_b"])
    )


_CONTAINMENT_ORACLE = f"""
       WITH sh AS (
         SELECT doc_id, unnest(list_distinct(list_transform(
                  range(1, len(string_split(text, ' ')) - 1),
                  i -> string_split(text, ' ')[i] || ' ' ||
                       string_split(text, ' ')[i+1] || ' ' ||
                       string_split(text, ' ')[i+2]
                ))) AS sh
         FROM documents
       ),
       sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       inter AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
         FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id != b.doc_id
         GROUP BY a.doc_id, b.doc_id
       )
       SELECT i.doc_a, i.doc_b, ROUND(i.inter / na.n_sh, 4) AS containment
       FROM inter i JOIN sizes na ON i.doc_a = na.doc_id
       WHERE i.inter / na.n_sh >= {CONTAINMENT_THRESHOLD}
       ORDER BY doc_a, doc_b"""


@register(
    "x_dedup_containment",
    "Asymmetric trigram containment |A∩B|/|A| >= 0.8: doc-in-doc "
    "duplication (quotes, boilerplate wrappers) that Jaccard misses. "
    "PPJoin-style prefix filter on the contained side only (the "
    "container side admits no length bound); exact verify against the "
    "broadcast shingle-set table.",
    _CONTAINMENT_ORACLE,
)
def q_containment(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table_for_compute(spark, "documents", sf)
    return ngram_containment_pairs(docs, "doc_id", "text").orderBy(
        "doc_a", "doc_b"
    )


_NGRAM_ORACLE = f"""
       WITH sh AS (
         SELECT doc_id, unnest(list_distinct(list_transform(
                  range(1, len(string_split(text, ' ')) - 1),
                  i -> string_split(text, ' ')[i] || ' ' ||
                       string_split(text, ' ')[i+1] || ' ' ||
                       string_split(text, ' ')[i+2]
                ))) AS sh
         FROM documents
       ),
       sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       inter AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
         FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         GROUP BY a.doc_id, b.doc_id
       )
       SELECT i.doc_a, i.doc_b,
              ROUND(i.inter / (na.n_sh + nb.n_sh - i.inter), 4) AS jaccard
       FROM inter i JOIN sizes na ON i.doc_a = na.doc_id
                    JOIN sizes nb ON i.doc_b = nb.doc_id
       WHERE i.inter / (na.n_sh + nb.n_sh - i.inter) >= {JACCARD_THRESHOLD}
       ORDER BY doc_a, doc_b"""


# -- embedding-cosine near-dup ----------------------------------------------

COSINE_DUP_THRESHOLD = 0.4


def embedding_cosine_pairs(
    embeddings: DataFrame, threshold: float = COSINE_DUP_THRESHOLD
) -> DataFrame:
    """Semantic near-dup pairs: embeddings whose cosine ≥ threshold,
    candidate-limited to the same random-hyperplane LSH bucket (similar
    vectors collide with high probability; recall is tuned by adding
    hash tables / planes).

    Execution: one shuffle on the bucket id, then block-local BLAS —
    ``applyInPandas`` per bucket computes the normalized gram matrix with
    a single numpy matmul and emits only above-threshold pairs. This is
    the scale shape for vector dedup: candidate generation never
    materializes the O(N²) pair space, and the inner O(b²·d) work runs
    vectorized instead of one interpreted dot per pair (~10× over the
    expression-based self-join). Oversized buckets are sub-blocked so
    memory stays bounded by block², not bucket².
    """
    import numpy as np
    import pandas as pd

    from geostore_spark.operators.similarity import numpy_buckets

    def add_bucket(batches):
        # vectorized bucket assignment (one matmul per Arrow batch) — the
        # expression form (`bucket_column`) evaluates its lambdas
        # interpreted and costs ~0.25 ms/row; at ingest time the bucket
        # would be written once as the partition key with either form
        for pdf in batches:
            if len(pdf):
                yield pdf.assign(
                    bucket=numpy_buckets(np.vstack(pdf["emb"].to_numpy())).astype("int32")
                )

    e = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    ).mapInPandas(add_bucket, "vec_id long, emb array<double>, bucket int")

    max_block = 4096  # bounds per-task memory: block² floats, not bucket²

    def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        mat = np.vstack(pdf["emb"].to_numpy())
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        out_a, out_b, out_c = [], [], []
        n = len(ids)
        for i0 in range(0, n, max_block):
            a_ids, a_mat = ids[i0 : i0 + max_block], mat[i0 : i0 + max_block]
            for j0 in range(i0, n, max_block):
                b_ids, b_mat = ids[j0 : j0 + max_block], mat[j0 : j0 + max_block]
                gram = a_mat @ b_mat.T
                ii, jj = np.nonzero(gram >= threshold)
                lo = np.minimum(a_ids[ii], b_ids[jj])
                hi = np.maximum(a_ids[ii], b_ids[jj])
                keep = lo < hi  # drop self-pairs and (a,b)/(b,a) dupes via lo<hi
                out_a.append(lo[keep])
                out_b.append(hi[keep])
                out_c.append(gram[ii[keep], jj[keep]])
        if not out_a:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cos": []})
        res = pd.DataFrame(
            {
                "vec_a": np.concatenate(out_a),
                "vec_b": np.concatenate(out_b),
                "cos": np.round(np.concatenate(out_c), 4),
            }
        )
        # overlapping diagonal blocks emit (a,b) twice when i0 == j0 only
        # once; cross blocks of the same bucket can't duplicate a pair
        return res.drop_duplicates(subset=["vec_a", "vec_b"])

    return e.groupBy("bucket").applyInPandas(
        bucket_pairs, "vec_a long, vec_b long, cos double"
    )


def _embed_cosine_oracle() -> str:
    from geostore_spark.operators.similarity import _duck_bucket

    return f"""
       WITH e AS (
         SELECT vec_id, embedding::DOUBLE[] AS emb,
                sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm,
                {_duck_bucket("embedding::DOUBLE[]")} AS bucket
         FROM embeddings
       ),
       s AS (
         SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) AS cos
         FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       )
       SELECT vec_a, vec_b, ROUND(cos, 4) AS cos FROM s
       WHERE cos >= {COSINE_DUP_THRESHOLD}
       ORDER BY vec_a, vec_b"""


@register(
    "x_dedup_embed_cosine",
    "Embedding-cosine near-dup pairs: LSH-bucketed candidate self-join + "
    "exact cosine filter — the semantic-dedup complement to MinHash "
    "(surface text) at corpus scale.",
    _embed_cosine_oracle(),
)
def q_embed_cosine(spark: SparkSession, sf: str) -> DataFrame:
    return embedding_cosine_pairs(load_table(spark, "embeddings", sf)).orderBy(
        "vec_a", "vec_b"
    )


@register(
    "x_dedup_ngram_jaccard",
    "Exact word-trigram Jaccard near-dup pairs via inverted-index "
    "self-join; candidates = pairs sharing a trigram, never O(N²).",
    _NGRAM_ORACLE,
)
def q_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table_for_compute(spark, "documents", sf)
    return ngram_jaccard_pairs(docs, "doc_id", "text").orderBy("doc_a", "doc_b")


# -- URL canonicalization dedup ---------------------------------------------

_URL_HEAD = "^[a-zA-Z]+://[^/]+"


def canonical_url(url: Column) -> Column:
    """Canonicalize a URL for dedup: lowercase the scheme+authority (path
    stays case-sensitive), strip a default :443 port, drop trailing
    utm_* tracking parameters. Pure codegen expressions — at corpus
    scale this is a scan-project ahead of one groupBy on the canonical
    key."""
    head = F.regexp_extract(url, _URL_HEAD, 0)
    canon_head = F.replace(F.lower(head), F.lit(":443"), F.lit(""))
    tail = F.substring(url, F.length(head) + 1, F.lit(1 << 30))
    canon_tail = F.regexp_replace(tail, r"\?utm_[^#]*$", "")
    return F.concat(canon_head, canon_tail)


@register(
    "x_dedup_url",
    "URL canonicalization dedup: lowercase scheme+host, strip default "
    "port and utm_* tracking params, then group by the canonical form. "
    "The fixtures carry no URLs, so the query synthesizes four "
    "deterministic variants per user (case/port/tracking noise) and the "
    "canonicalizer — the thing under test — must collapse them.",
    """WITH raw AS (
         SELECT event_id,
                CASE event_id % 4
                  WHEN 0 THEN 'https://www.example.com/items/' || user_id
                  WHEN 1 THEN 'HTTPS://WWW.EXAMPLE.COM/items/' || user_id
                  WHEN 2 THEN 'https://www.example.com:443/items/' || user_id
                  ELSE 'https://www.example.com/items/' || user_id
                       || '?utm_source=feed'
                END AS url
         FROM events
       ),
       canon AS (
         SELECT url,
                replace(lower(regexp_extract(url, '^[a-zA-Z]+://[^/]+')), ':443', '')
                  || regexp_replace(substring(url,
                       length(regexp_extract(url, '^[a-zA-Z]+://[^/]+')) + 1),
                       '\\?utm_[^#]*$', '') AS curl
         FROM raw
       )
       SELECT curl, COUNT(*) AS n_events, COUNT(DISTINCT url) AS n_variants
       FROM canon GROUP BY curl ORDER BY curl LIMIT 200""",
)
def q_url_dedup(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, "events", sf)
    variant = F.col("event_id") % 4
    base = F.concat(F.lit("https://www.example.com/items/"), F.col("user_id").cast("string"))
    url = (
        F.when(variant == 0, base)
        .when(
            variant == 1,
            F.concat(
                F.lit("HTTPS://WWW.EXAMPLE.COM/items/"), F.col("user_id").cast("string")
            ),
        )
        .when(
            variant == 2,
            F.concat(
                F.lit("https://www.example.com:443/items/"),
                F.col("user_id").cast("string"),
            ),
        )
        .otherwise(F.concat(base, F.lit("?utm_source=feed")))
    )
    return (
        ev.select(url.alias("url"))
        .select("url", canonical_url(F.col("url")).alias("curl"))
        .groupBy("curl")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("url").alias("n_variants"),
        )
        .orderBy("curl")
        .limit(200)
    )


# -- corpus-wide duplicated-chunk removal (line-dedup analog) ---------------

CHUNK_W = 16  # words per chunk


@register(
    "x_dedup_chunks",
    "Corpus-wide duplicated-chunk removal — the C4/Dolma line-dedup "
    "primitive (every line that re-occurs anywhere in the corpus is "
    "dropped except its first occurrence), expressed over deterministic "
    "16-word chunks because the fixture corpus has no newlines. One "
    "chunking projection (no shuffle), one row_number window keyed on the "
    "chunk hash (uniform keys — chunks are near-unique, so no skew), one "
    "per-doc re-aggregation. First occurrence = lowest (doc_id, pos), so "
    "the result is deterministic under any partitioning.",
    f"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       c AS (
         SELECT doc_id,
                unnest(range(0, CAST(ceil(len(ws) / {CHUNK_W}.0) AS INT))) AS pos,
                unnest(list_transform(
                  range(0, CAST(ceil(len(ws) / {CHUNK_W}.0) AS INT)),
                  i -> array_to_string(ws[i*{CHUNK_W}+1 : i*{CHUNK_W}+{CHUNK_W}], ' '))) AS chunk
         FROM w
       ),
       r AS (
         SELECT doc_id, pos,
                ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
         FROM c
       )
       SELECT doc_id, COUNT(*) AS n_chunks,
              CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
       FROM r GROUP BY doc_id ORDER BY doc_id""",
)
def q_chunk_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc chunk counts after corpus-level first-occurrence dedup.

    At 100 TB the window shuffle partitions by chunk hash — uniformly
    distributed 64-bit keys, so AQE never sees skew; the groupBy(doc_id)
    re-aggregation gets map-side partial aggregation. No Python in the
    path: chunking is a higher-order projection over ≤ dozens of elements
    per row (cheap even interpreted), hashing and the window are codegen.
    """
    from pyspark.sql.window import Window

    docs = load_table_for_compute(spark, "documents", sf)
    ws = F.split(F.col("text"), " ")
    n_chunks = F.ceil(F.size(ws) / F.lit(float(CHUNK_W)))
    chunks = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), (n_chunks - 1).cast("int")),
                lambda i: F.concat_ws(" ", F.slice(ws, i * CHUNK_W + 1, CHUNK_W)),
            )
        ).alias("pos", "chunk"),
    )
    w = Window.partitionBy(F.xxhash64("chunk")).orderBy("doc_id", "pos")
    ranked = chunks.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).alias("n_dup_chunks"),
        )
        .orderBy("doc_id")
    )


# -- substring-level dedup (anchor-sampled, Lee-et-al-style) ----------------

ANCHOR_MOD = 16  # keep grams whose rolling hash == 0 (mod 16): ~6% anchors
ANCHOR_LEN = 24  # chars of context grouped per anchor
SUBSTR_TOP = 50


def anchor_substrings(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Anchor-sampled substring extraction, the bucketed alternative to a
    corpus suffix array (Lee et al., "Deduplicating Training Data Makes
    Language Models Better" find-repeated-substrings step): every char
    position whose 4-gram rolling hash (same Horner-mod-2^31-1 scheme as
    ``text.winnow_fingerprints``) is 0 mod ANCHOR_MOD becomes an anchor,
    and the ANCHOR_LEN-char substring starting there is emitted. Content
    determines anchor placement, so two documents sharing a duplicated
    region place anchors at the SAME offsets inside it — grouping by the
    literal substring then finds cross-doc repeats with exact-match
    verification built into the key. Vectorized numpy per Arrow batch;
    anchors without a full ANCHOR_LEN window are skipped (end-of-doc
    truncations would otherwise alias)."""
    import numpy as np
    import pandas as pd

    from geostore_spark.operators.text import WINNOW_B, WINNOW_K, WINNOW_P

    def batches(it):
        for pdf in it:
            ids: list = []
            subs: list = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                cps = np.frombuffer(
                    text.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                n_text = len(cps)
                n = n_text - WINNOW_K + 1
                if n <= 0:
                    continue
                h = cps[:n].copy()
                for j in range(1, WINNOW_K):
                    h = (h * WINNOW_B + cps[j : j + n]) % WINNOW_P
                pos = np.nonzero(h % ANCHOR_MOD == 0)[0]
                pos = pos[pos <= n_text - ANCHOR_LEN]
                for p in pos:
                    ids.append(doc_id)
                    subs.append(text[p : p + ANCHOR_LEN])
            yield pd.DataFrame({id_col: ids, "sub": subs})

    return rebalance_for_python(df.select(id_col, text_col)).mapInPandas(
        batches, f"{id_col} long, sub string"
    )


def _substring_oracle() -> str:
    from geostore_spark.operators.text import WINNOW_B, WINNOW_P

    b, p = WINNOW_B, WINNOW_P
    return f"""
       WITH g AS (
         SELECT doc_id, text, length(text) AS n_text,
                list_transform(range(1, length(text) - 2),
                  i -> ((((CAST(unicode(substring(text, i, 1)) AS BIGINT) * {b}
                         + unicode(substring(text, i+1, 1))) % {p})
                         * {b} + unicode(substring(text, i+2, 1))) % {p}
                         * {b} + unicode(substring(text, i+3, 1))) % {p}) AS hs
         FROM documents
       ),
       anchors AS (
         SELECT doc_id, substring(text, CAST(i AS INT), {ANCHOR_LEN}) AS sub
         FROM g, unnest(list_filter(range(1, len(hs) + 1),
                        i -> hs[i] % {ANCHOR_MOD} = 0
                             AND i <= n_text - {ANCHOR_LEN} + 1)) AS t(i)
       )
       SELECT sub, COUNT(*) AS n_occ,
              COUNT(DISTINCT doc_id) AS n_docs
       FROM anchors GROUP BY sub HAVING COUNT(DISTINCT doc_id) >= 2
       ORDER BY n_occ DESC, sub LIMIT {SUBSTR_TOP}"""


@register(
    "x_dedup_substring",
    "Substring-level dedup: content-defined anchor sampling (rolling-hash "
    "0 mod 16) + exact 24-char substring grouping — the bucketed, "
    "shuffle-on-substring-key alternative to a corpus suffix array for "
    "finding duplicated text regions ACROSS documents (Lee et al. 2022). "
    "One (substring-key) shuffle with map-side partials; never all-pairs, "
    "and verification is exact string equality in the group key itself.",
    _substring_oracle(),
)
def q_substring_dedup(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table_for_compute(spark, "documents", sf)
    return (
        anchor_substrings(docs)
        .groupBy("sub")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.col("n_occ").desc(), "sub")
        .limit(SUBSTR_TOP)
    )


# -- incremental (new-batch vs corpus) dedup --------------------------------

BATCH_MOD = 5  # doc_id % 5 == 0 simulates the incoming ingest batch


def _incremental_oracle() -> str:
    perm_mins = ",\n              ".join(
        f"MIN(({_A[i]} * b + {_B[i]}) % {P}) AS m{i}" for i in range(NUM_PERM)
    )
    band_rows = "\n         UNION ALL\n         ".join(
        "SELECT doc_id, {b} AS band, md5(concat_ws(',', {cols})) AS bh FROM sig".format(
            b=b,
            cols=", ".join(f"m{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)),
        )
        for b in range(BANDS)
    )
    return f"""
       WITH tok AS (
         SELECT doc_id, unnest(list_distinct(list_transform(
                  range(1, len(string_split(text, ' '))),
                  i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
                ))) AS sh
         FROM documents
       ),
       h AS (
         SELECT doc_id, {_duck_md5_32("sh")} % {P} AS b FROM tok
       ),
       sig AS (
         SELECT doc_id,
              {perm_mins}
         FROM h GROUP BY doc_id
       ),
       band AS (
         {band_rows}
       ),
       near AS (
         SELECT DISTINCT x.doc_id
         FROM band x JOIN band y ON x.band = y.band AND x.bh = y.bh
         WHERE x.doc_id % {BATCH_MOD} = 0 AND y.doc_id % {BATCH_MOD} != 0
       ),
       exact AS (
         SELECT DISTINCT bdoc.doc_id
         FROM documents bdoc JOIN documents cdoc
           ON md5(bdoc.text) = md5(cdoc.text)
         WHERE bdoc.doc_id % {BATCH_MOD} = 0 AND cdoc.doc_id % {BATCH_MOD} != 0
       )
       SELECT d.doc_id,
              CAST(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INT)
                AS exact_dup,
              CAST(CASE WHEN n.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INT)
                AS near_dup,
              CAST(CASE WHEN e.doc_id IS NULL AND n.doc_id IS NULL
                   THEN 1 ELSE 0 END AS INT) AS keep
       FROM documents d
       LEFT JOIN exact e ON d.doc_id = e.doc_id
       LEFT JOIN near n ON d.doc_id = n.doc_id
       WHERE d.doc_id % {BATCH_MOD} = 0
       ORDER BY d.doc_id"""


@register(
    "x_dedup_incremental",
    "Incremental ingest dedup: an incoming batch is screened against the "
    "standing corpus without ever re-deduping the corpus itself — exact "
    "via digest semi-join, near via MinHash-LSH band buckets (batch "
    "bands join corpus bands). The batch side is small by construction, "
    "so Catalyst broadcasts it onto the corpus scans; at 100 TB the "
    "corpus digest/band tables are precomputed once and the per-batch "
    "cost is proportional to the BATCH, not the corpus.",
    _incremental_oracle(),
)
def q_incremental_dedup(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table_for_compute(spark, "documents", sf)
    is_batch = F.col("doc_id") % BATCH_MOD == 0
    batch_ids = docs.filter(is_batch).select("doc_id")

    # both probes broadcast the (small by construction) batch side onto
    # a corpus stream and feed ONE union -> per-doc flag rollup: a
    # single plan, where r7's shape paid two separate probe subplans,
    # a corpus-digest distinct, a near-side distinct, and two broadcast
    # flag joins (r7 verdict: union the probes into one plan). The
    # corpus side never shuffles in either probe — at 100 TB the digest
    # and band streams are map-side only, and the rollup shuffles just
    # the flagged batch hits.
    digests = docs.select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("dg")
    )
    bd = digests.filter(is_batch)
    cd = digests.filter(~is_batch).select("dg")
    exact_hits = cd.join(F.broadcast(bd), "dg").select(
        "doc_id", F.lit(1).alias("e"), F.lit(0).alias("n")
    )

    # band tables derive (shuffle-free posexplode) from the session-
    # shared signature checkpoint — r7 evaluated the shingle+32-perm
    # Arrow pass once per join side per invocation
    bands = band_table(shared_minhash_sig(spark, sf), "doc_id")
    b_bands = bands.filter(F.col("doc_id") % BATCH_MOD == 0)
    c_bands = bands.filter(F.col("doc_id") % BATCH_MOD != 0).select("band", "bh")
    near_hits = c_bands.join(F.broadcast(b_bands), ["band", "bh"]).select(
        "doc_id", F.lit(0).alias("e"), F.lit(1).alias("n")
    )

    flags = (
        exact_hits.unionByName(near_hits)
        .groupBy("doc_id")
        .agg(F.max("e").alias("e"), F.max("n").alias("n"))
    )
    return (
        batch_ids.join(F.broadcast(flags), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("e"), F.lit(0)).cast("int").alias("exact_dup"),
            F.coalesce(F.col("n"), F.lit(0)).cast("int").alias("near_dup"),
            (F.col("e").isNull() & F.col("n").isNull()).cast("int").alias("keep"),
        )
        .orderBy("doc_id")
    )


# -- semantic dedup (SemDeDup: cluster-then-cosine) --------------------------

SEMANTIC_COS_THRESHOLD = 0.4


def semantic_dedup_pairs(
    spark: SparkSession,
    embeddings: DataFrame,
    threshold: float = SEMANTIC_COS_THRESHOLD,
    assign: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means-cluster the embedding space,
    then search for near-duplicate pairs ONLY within each cluster —
    the cluster assignment replaces LSH as the candidate limiter, with
    the advantage that cluster geometry adapts to the data distribution.

    Execution: the integer-exact ``kmeans_assign`` (broadcast centroids,
    map-side partials) labels every vector; one shuffle on the cluster id
    co-locates each cluster, and ``applyInPandas`` computes the
    normalized gram matrix per cluster block (sub-blocked, memory
    bounded by block², same kernel shape as ``embedding_cosine_pairs``).
    Never O(N²): pair work is Σ|cluster|², which balanced clusters keep
    near N²/k — and k scales with the corpus."""
    import numpy as np
    import pandas as pd

    from geostore_spark.operators.ml import kmeans_assign

    if assign is None:
        assign = kmeans_assign(spark, embeddings)
    assign = assign.select("vec_id", "cluster")
    e = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    ).join(assign, "vec_id")

    max_block = 4096

    def cluster_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        cluster = int(pdf["cluster"].iloc[0])
        ids = pdf["vec_id"].to_numpy()
        mat = np.vstack(pdf["emb"].to_numpy())
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        out_a, out_b, out_c = [], [], []
        n = len(ids)
        for i0 in range(0, n, max_block):
            a_ids, a_mat = ids[i0 : i0 + max_block], mat[i0 : i0 + max_block]
            for j0 in range(i0, n, max_block):
                b_ids, b_mat = ids[j0 : j0 + max_block], mat[j0 : j0 + max_block]
                gram = a_mat @ b_mat.T
                ii, jj = np.nonzero(gram >= threshold)
                lo = np.minimum(a_ids[ii], b_ids[jj])
                hi = np.maximum(a_ids[ii], b_ids[jj])
                keep = lo < hi
                out_a.append(lo[keep])
                out_b.append(hi[keep])
                out_c.append(gram[ii[keep], jj[keep]])
        if not out_a:
            return pd.DataFrame({"cluster": [], "vec_a": [], "vec_b": [], "cos": []})
        return pd.DataFrame(
            {
                "cluster": cluster,
                "vec_a": np.concatenate(out_a),
                "vec_b": np.concatenate(out_b),
                "cos": np.concatenate(out_c),
            }
        ).drop_duplicates(["vec_a", "vec_b"])

    return (
        e.groupBy("cluster")
        .applyInPandas(cluster_pairs, "cluster long, vec_a long, vec_b long, cos double")
        .select("cluster", "vec_a", "vec_b", F.round("cos", 4).alias("cos"))
    )


def _semantic_oracle() -> str:
    from geostore_spark.operators.ml import kmeans_ctes

    body, final = kmeans_ctes()
    return f"""
       WITH {body},
       e AS (
         SELECT vec_id, embedding::DOUBLE[] AS emb,
                sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                  AS nrm
         FROM embeddings
       ),
       j AS (SELECT f.vec_id, f.cid, e.emb, e.nrm
             FROM {final} f JOIN e USING (vec_id)),
       p AS (
         SELECT x.cid AS cluster, x.vec_id AS vec_a, y.vec_id AS vec_b,
                list_dot_product(x.emb, y.emb) / (x.nrm * y.nrm) AS cos
         FROM j x JOIN j y ON x.cid = y.cid AND x.vec_id < y.vec_id
       )
       SELECT cluster, vec_a, vec_b, ROUND(cos, 4) AS cos
       FROM p WHERE cos >= {SEMANTIC_COS_THRESHOLD}
       ORDER BY cluster, vec_a, vec_b"""


@register(
    "x_dedup_semantic",
    "SemDeDup (Abbas et al. 2023): k-means clusters as the candidate "
    "limiter, exact cosine pairs within each cluster only. Integer-exact "
    "cluster assignment (broadcast centroids) + one cluster-keyed "
    "shuffle + per-cluster blocked BLAS gram — pair work is sum of "
    "squared cluster sizes, never corpus O(N^2).",
    _semantic_oracle(),
)
def q_semantic_dedup(spark: SparkSession, sf: str) -> DataFrame:
    from geostore_spark.operators.ml import shared_kmeans_assignment

    emb = load_table(spark, "embeddings", sf)
    # ride the session-shared assignment pass (one Lloyd loop per suite
    # for x_ml_kmeans / x_ml_silhouette / this query)
    asg = shared_kmeans_assignment(spark, sf)
    return semantic_dedup_pairs(spark, emb, assign=asg).orderBy(
        "cluster", "vec_a", "vec_b"
    )


# -- paragraph-granularity exact dedup ---------------------------------------

PARA_WORDS = 8  # fixed window: fixture text is single-line word soup


@register(
    "x_dedup_paragraph",
    "Paragraph-level exact dedup rollup (the Dolma/RefinedWeb "
    "sub-document pass: whole documents rarely collide, their "
    "boilerplate paragraphs do). Documents segment into fixed "
    f"{PARA_WORDS}-word paragraphs (the fixture corpus is unpunctuated "
    "word soup, so the window stands in for newline paragraphs — same "
    "plan either way), each paragraph hashes to an md5 digest, and one "
    "partially-aggregated digest shuffle yields the duplicate profile: "
    "corpus totals plus the top repeated paragraphs. Only digests "
    "shuffle (never paragraph text), counts combine map-side, and the "
    "top-k is a TakeOrdered, not a global sort.",
    f"""WITH d AS (
         SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       ),
       c AS (
         SELECT doc_id,
                md5(array_to_string(
                    toks[i * {PARA_WORDS} + 1 : i * {PARA_WORDS} + {PARA_WORDS}],
                    ' ')) AS digest
         FROM d, LATERAL (
           SELECT unnest(range(0, CAST(len(toks) / {PARA_WORDS} AS INT))) AS i
         ) t
       ),
       g AS (
         SELECT digest, COUNT(*) AS n_copies,
                COUNT(DISTINCT doc_id) AS n_docs
         FROM c GROUP BY digest
       )
       SELECT digest, n_copies, CAST(n_docs AS BIGINT) AS n_docs
       FROM g WHERE n_copies > 1
       ORDER BY n_copies DESC, digest LIMIT 20""",
)
def q_paragraph_dedup(spark: SparkSession, sf: str) -> DataFrame:
    w = PARA_WORDS
    docs = load_table_for_compute(spark, "documents", sf)
    paras = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, size(split(text, ' ')) div {w} - 1), "
                f"i -> md5(cast(array_join(slice(split(text, ' '), "
                f"i * {w} + 1, {w}), ' ') as binary)))"
            )
        ).alias("digest"),
    )
    return (
        paras.groupBy("digest")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
        )
        .filter(F.col("n_copies") > 1)
        .orderBy(F.col("n_copies").desc(), "digest")
        .limit(20)
    )


# -- estimator-quality audit: MinHash vs exact Jaccard -----------------------

EVAL_TAU_NUM, EVAL_TAU_DEN = 1, 2  # tau = 0.5, held as a ratio → integer tests
EVAL_ERR_SCALE = 10_000


def _minhash_eval_oracle() -> str:
    """Composes the minhash CTE chain (agree counts, not rounded
    estimates) with exact bigram Jaccard on the candidate pairs."""
    perm_mins = ",\n              ".join(
        f"MIN(({_A[i]} * b + {_B[i]}) % {P}) AS m{i}" for i in range(NUM_PERM)
    )
    band_rows = "\n         UNION ALL\n         ".join(
        "SELECT doc_id, {b} AS band, md5(concat_ws(',', {cols})) AS bh FROM sig".format(
            b=b,
            cols=", ".join(f"m{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)),
        )
        for b in range(BANDS)
    )
    agree = " + ".join(
        f"CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END" for i in range(NUM_PERM)
    )
    tau_est = f"ex.agree * {EVAL_TAU_DEN} >= {NUM_PERM} * {EVAL_TAU_NUM}"
    tau_ex = f"ex.inter * {EVAL_TAU_DEN} >= ex.u * {EVAL_TAU_NUM}"
    return f"""
       WITH w AS (
         SELECT doc_id,
                list_distinct(list_transform(
                  range(1, len(string_split(text, ' '))),
                  i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
                )) AS grams
         FROM documents
       ),
       tok AS (SELECT doc_id, unnest(grams) AS sh FROM w),
       h AS (
         SELECT doc_id, {_duck_md5_32("sh")} % {P} AS b FROM tok
       ),
       sig AS (
         SELECT doc_id,
              {perm_mins}
         FROM h GROUP BY doc_id
       ),
       band AS (
         {band_rows}
       ),
       pair AS (
         SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         FROM band x JOIN band y
           ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
       ),
       ag AS (
         SELECT p.doc_a, p.doc_b, ({agree}) AS agree
         FROM pair p JOIN sig sa ON p.doc_a = sa.doc_id
                     JOIN sig sb ON p.doc_b = sb.doc_id
       ),
       ex AS (
         SELECT ag.doc_a, ag.doc_b, ag.agree,
                len(list_intersect(ga.grams, gb.grams)) AS inter,
                len(ga.grams) + len(gb.grams)
                  - len(list_intersect(ga.grams, gb.grams)) AS u
         FROM ag JOIN w ga ON ag.doc_a = ga.doc_id
                 JOIN w gb ON ag.doc_b = gb.doc_id
       )
       SELECT COUNT(*) AS n_candidates,
              CAST(SUM(CASE WHEN {tau_est} THEN 1 ELSE 0 END) AS BIGINT)
                AS n_est_pos,
              CAST(SUM(CASE WHEN {tau_ex} THEN 1 ELSE 0 END) AS BIGINT)
                AS n_exact_pos,
              CAST(SUM(CASE WHEN ({tau_est}) AND NOT ({tau_ex}) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_pos,
              CAST(SUM(CASE WHEN NOT ({tau_est}) AND ({tau_ex}) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_missed_by_est,
              CAST(SUM(CAST(round(
                  abs(ex.agree * ex.u - {NUM_PERM} * ex.inter) * {EVAL_ERR_SCALE}.0
                  / ({NUM_PERM} * ex.u)) AS BIGINT)) AS BIGINT) AS sum_err_q
       FROM ex"""


@register(
    "x_dedup_minhash_eval",
    "Estimator-quality audit of the MinHash/LSH screen itself: every "
    "candidate pair's 32-perm agreement count is compared against the "
    "EXACT bigram Jaccard of that pair — the precision / estimator- "
    "error measurement a production dedup pipeline runs before "
    "trusting a sketch at 100 TB (recall of the banding is a separate "
    "planted-pair property test). Exact verification joins only the "
    "candidate set (LSH-bucket-bounded, never O(N^2)); threshold "
    "tests are integer cross-products (agree*2 >= 32, inter*2 >= "
    "union) and the error sum quantizes per pair from exact integers, "
    "so the one-row audit is deterministic across engines.",
    _minhash_eval_oracle(),
)
def q_minhash_eval(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table_for_compute(spark, "documents", sf)
    sig = shared_minhash_sig(spark, sf)
    bands = band_table(sig, "doc_id")
    x, y = bands.alias("x"), bands.alias("y")
    pairs = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bh") == F.col("y.bh"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    agree = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda p, q: p == q), lambda eq: eq)
    )
    ag = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", agree.alias("agree"))
    )
    grams = docs.select("doc_id", _bigrams("text").alias("grams"))
    ga = grams.select(F.col("doc_id").alias("doc_a"), F.col("grams").alias("grams_a"))
    gb = grams.select(F.col("doc_id").alias("doc_b"), F.col("grams").alias("grams_b"))
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    ex = (
        ag.join(ga, "doc_a")
        .join(gb, "doc_b")
        .select(
            "agree",
            inter.alias("inter"),
            (F.size("grams_a") + F.size("grams_b") - inter).alias("u"),
        )
    )
    est_pos = F.col("agree") * EVAL_TAU_DEN >= NUM_PERM * EVAL_TAU_NUM
    ex_pos = F.col("inter") * EVAL_TAU_DEN >= F.col("u") * EVAL_TAU_NUM
    err_q = F.round(
        F.abs(F.col("agree") * F.col("u") - NUM_PERM * F.col("inter"))
        * float(EVAL_ERR_SCALE)
        / (NUM_PERM * F.col("u")),
        0,
    ).cast("bigint")
    return ex.agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(est_pos.cast("bigint")).cast("bigint").alias("n_est_pos"),
        F.sum(ex_pos.cast("bigint")).cast("bigint").alias("n_exact_pos"),
        F.sum((est_pos & ~ex_pos).cast("bigint")).cast("bigint").alias("n_false_pos"),
        F.sum((~est_pos & ex_pos).cast("bigint")).cast("bigint").alias("n_missed_by_est"),
        F.sum(err_q).cast("bigint").alias("sum_err_q"),
    )


# -- estimator audit: SimHash Hamming screen vs exact Jaccard ----------------

SIMHASH_AUDIT_TAU_NUM, SIMHASH_AUDIT_TAU_DEN = 1, 2  # tau = 0.5 as a ratio


def _simhash_audit_oracle() -> str:
    return f"""
       WITH {simhash_pairs_ctes()},
       pairs AS (
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
         WHERE bit_count(xor(a.fp, b.fp)) <= {HAMMING_MAX}
       ),
       g AS (
         SELECT doc_id, list_distinct(list_transform(
                  range(1, len(string_split(text, ' ')) - 1),
                  i -> string_split(text, ' ')[i] || ' ' ||
                       string_split(text, ' ')[i+1] || ' ' ||
                       string_split(text, ' ')[i+2]
                )) AS grams
         FROM documents
       ),
       e AS (
         SELECT p.hamming,
                len(list_intersect(ga.grams, gb.grams)) AS i,
                len(ga.grams) + len(gb.grams)
                  - len(list_intersect(ga.grams, gb.grams)) AS u
         FROM pairs p JOIN g ga ON p.doc_a = ga.doc_id
                      JOIN g gb ON p.doc_b = gb.doc_id
       )
       SELECT hamming, COUNT(*) AS n_pairs,
              CAST(SUM(CASE WHEN u = 0 THEN 0
                            ELSE (i * 1000000) // u END) AS BIGINT) AS sum_j_q6,
              CAST(SUM(CASE WHEN i * {SIMHASH_AUDIT_TAU_DEN}
                              >= u * {SIMHASH_AUDIT_TAU_NUM}
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_ge_tau
       FROM e GROUP BY hamming ORDER BY hamming"""


@register(
    "x_dedup_simhash_eval",
    "Estimator-quality audit of the SimHash Hamming screen (the "
    "x_dedup_minhash_eval discipline applied to the other sketch): "
    "every Hamming<=3 candidate pair gets its EXACT trigram Jaccard, "
    "rolled up per Hamming distance — the calibration curve that tells "
    "a pipeline what a given Hamming radius buys in precision before "
    "trusting it at 100 TB. Exact verification touches only the "
    "pigeonhole candidate set; per-pair scores quantize to 1e-6 "
    "integer floor-divisions and the tau test is an integer "
    "cross-product, so the rollup is order-free exact.",
    _simhash_audit_oracle(),
)
def q_simhash_eval(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table_for_compute(spark, "documents", sf)
    fps = shared_simhash_fps(spark, sf)
    pairs = simhash_pairs(fps, "doc_id", input_pinned=True).select(
        "doc_a", "doc_b", "hamming"
    )
    # Trigrams ride as xxhash64 LONGS, not strings — the same
    # hashed-shingle representation `_df_ordered_docs_arr` already uses
    # for the ngram/containment verifies. array_intersect re-hashes the
    # build-side array per candidate PAIR, so element hashing is the
    # verify's inner loop: longs hash/compare in one word vs a full
    # string traversal per element, and the broadcast gram table
    # shrinks ~3x. i/u are unchanged as long as xxhash64 is injective
    # on the corpus gram set (64-bit over ~10^6-10^7 distinct trigrams;
    # the per-round driver oracle re-checks the rows). Measured medians:
    # sf0.1 3.37 -> 2.56 s, sf1 20.0 -> 11.4 s, outputs identical.
    grams = docs.select(
        "doc_id",
        F.transform(_trigrams("text"), lambda g: F.xxhash64(g)).alias("grams"),
    ).transform(pin_branch_point)
    ga = grams.select(F.col("doc_id").alias("doc_a"), F.col("grams").alias("ga"))
    gb = grams.select(F.col("doc_id").alias("doc_b"), F.col("grams").alias("gb"))
    if _broadcast_doc_side("simhash_eval_verify", _count_rows_cheap(docs)):
        ga, gb = F.broadcast(ga), F.broadcast(gb)
    i = F.size(F.array_intersect("ga", "gb"))
    u = F.size("ga") + F.size("gb") - i
    e = (
        pairs.join(ga, "doc_a")
        .join(gb, "doc_b")
        .select("hamming", i.alias("i"), u.alias("u"))
    )
    return (
        e.groupBy("hamming")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            # u=0 (two docs each shorter than 3 words — zero trigrams)
            # must not divide: NULL in Spark but an error in the oracle;
            # score an empty-vs-empty pair as 0, same as dim_truncation's
            # tot=0 guard
            F.sum(F.expr("CASE WHEN u = 0 THEN 0 ELSE i * 1000000 div u END"))
            .cast("bigint")
            .alias("sum_j_q6"),
            F.sum(
                F.when(
                    F.col("i") * SIMHASH_AUDIT_TAU_DEN
                    >= F.col("u") * SIMHASH_AUDIT_TAU_NUM,
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_ge_tau"),
        )
        .orderBy("hamming")
    )
