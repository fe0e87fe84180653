"""Deduplication operators for training-data pipelines (extension surface).

Five families, each with a distinct scale posture:

- exact:        hash-groupBy on the text (one shuffle on md5 key; at 100 TB
                group on the 128-bit digest, never the raw text).
- minhash-LSH:  shingle -> K min-hashes -> B bands -> bucket self-join.
                Candidate generation never compares all pairs: the join is
                on (band_id, band_key), so cost ~ sum of bucket sizes^2.
- simhash:      64-bit weighted-bit sketch; near-dups share bands of the
                digest (same bucket-join shape).
- n-gram Jaccard: exact verify on candidate pairs (array_intersect on
                distinct shingle sets - set sizes are integers, portable).
- embedding cosine: delegated to similarity.py (same pair machinery).

Hashes are md5-based (portable, deterministic across engines and runs) -
NOT Python's hash() (salted per process) and not Spark's murmur (absent in
DuckDB for the oracle checks). md5 is computed JVM-side via F.md5.

Performance shape: the hash fan-out (K hashes per shingle) runs as
explode -> flat projection -> groupBy-min, which stays inside whole-stage
codegen. Doing the same work as nested higher-order lambdas
(transform/array_min over an inline shingle expression) falls back to
interpreted evaluation and re-computes the shingle array per hash seed -
measured ~100x slower on the documents table. Keep sketch-building flat.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import local_frame, widen_scan
from .text import tokens

# Frames that feed several join sides are cached through opcache, which
# unpersists them when the calling thread's unit of work ends (the next
# catalog entry, or the end of a REST request), so long-lived sessions
# never accumulate them until storage eviction. A caller outside any
# catalog entry or request keeps them until it ends its work with
# opcache.own(spark). See the opcache module docstring.
from ..opcache import cache as _cache  # noqa: E402


def exact_dup_groups(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: groups of byte-identical texts; keeper = min id.
    Shuffles on the md5 digest (fixed 32 bytes), not the document body."""
    return (df.select(F.md5(F.col(text_col)).alias("fp"), id_col)
            .groupBy("fp")
            .agg(F.min(id_col).alias("keep_id"),
                 F.count(F.lit(1)).alias("n_copies")))


def word_ngrams(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles as an array expression (1-indexed
    element_at, portable to DuckDB list indexing). For hot paths prefer
    shingled_docs(), which materializes the token array once per row."""
    toks = tokens(col)
    return _grams_from(toks, n)


def _grams_from(toks: Column, n: int) -> Column:
    """Distinct n-grams from a token-array column. Guarded for short docs:
    Spark's sequence(1, 0) DESCENDS ([1, 0]) and element_at past the end
    throws under ANSI - so emit an empty array when size < n."""
    count = F.size(toks) - (n - 1)
    grams = F.when(count > 0, F.transform(
        F.sequence(F.lit(1), F.greatest(count, F.lit(1))),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + k) for k in range(n)]),
    )).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def shingled_docs(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", n: int = 3) -> DataFrame:
    """(id, shingles): distinct word n-grams per document.

    The sliding window runs through Spark ML's NGram transformer — a
    JVM Scala closure (iterator.sliding(n).mkString(" ")) — instead of
    the equivalent transform(sequence(...), concat_ws(element_at...))
    expression: higher-order functions are CodegenFallback, so the
    expression form walks an interpreted eval tree PER GRAM, and on
    the 100x corpus (26.5M grams) that costs 9.7-11.3 s vs 7.3-8.0 s
    for the closure — the single largest leg of the LSH pipeline.
    Value-identical: NGram joins with single spaces and emits nothing
    for docs shorter than n tokens, exactly like the guarded
    expression form (_grams_from, kept for word_ngrams callers);
    array_distinct then matches the oracle's list_distinct. Tokens are
    coalesced to an empty array first: NGram's Scala closure would NPE
    on a null input array (null text), where the expression form
    returned an empty shingle set.

    pyspark.ml (and its numpy dependency) is imported lazily and
    OPTIONALLY: a minimal deployment without numpy falls back to the
    value-identical (slower, interpreted) expression form instead of
    failing at first dedup entry (ADVICE r11)."""
    try:
        from pyspark.ml.feature import NGram
    except ImportError:
        return df.select(
            id_col, word_ngrams(text_col, n).alias("shingles"))
    empty = F.array().cast("array<string>")
    staged = df.select(
        id_col, F.coalesce(tokens(text_col), empty).alias("_toks"))
    out = NGram(n=n, inputCol="_toks", outputCol="_grams").transform(staged)
    return out.select(
        id_col, F.array_distinct("_grams").alias("shingles"))


# Permutation family for minhash: h_j(s) = (A_j * x + B_j) mod P over
# x = first-8-hex-chars(md5(s)) mod P. ONE md5 per shingle feeds every
# permutation (the classic a*x+b universal family) instead of K
# cryptographic hashes per shingle - measured on the 100x corpus the
# signature stage fell 5.3 -> 1.1 s, and md5-per-(j,shingle) was the
# single largest cost in the whole LSH pipeline. Every operand stays
# portable 64-bit integer arithmetic: A_j < 2^30 and x < P < 2^31 keep
# A_j*x + B_j < 2^62 (no BIGINT overflow in either engine), and the
# DuckDB mirrors are GENERATED from these same constants
# (minhash_sig_sql / minhash_band_values_sql), so the two sides cannot
# drift.
MINHASH_P = 2147483647          # 2^31 - 1 (Mersenne prime)
MINHASH_A = (1000000007, 998244353, 754974721, 469762049,
             167772161, 595591169, 645922817, 897581057,
             880803841, 859832321, 104857601, 774144001,
             606060607, 333333331, 715827883, 536870923)
MINHASH_B = (12345, 67891, 24680, 13579, 98765, 55555, 31415, 27182,
             11111, 22223, 33335, 44447, 55559, 66661, 77773, 88885)


def minhash_sig_sql(src: str, id_col: str = "doc_id",
                    num_hashes: int = 8) -> str:
    """DuckDB mirror of :func:`minhash_signatures`: the sig-CTE body
    (``SELECT id, h0..h{K-1} FROM ... GROUP BY id``) over a relation
    ``src`` with columns (id_col, s). Generated from the same constants
    as the Spark side so the two engines agree bit-for-bit."""
    terms = ",\n             ".join(
        f"min(({MINHASH_A[j]} * x + {MINHASH_B[j]}) % {MINHASH_P})"
        f" AS h{j}" for j in range(num_hashes))
    return (f"SELECT {id_col},\n             {terms}\n"
            f"      FROM (SELECT {id_col}, ('0x' || substr(md5(s), 1, 8))"
            f"::BIGINT % {MINHASH_P} AS x FROM {src})\n"
            f"      GROUP BY {id_col}")


def minhash_band_values_sql(num_hashes: int = 8, bands: int = 4) -> str:
    """DuckDB mirror of :func:`_band_structs`: the LATERAL VALUES clause
    turning h0..h{K-1} into (band_id, band_key) rows."""
    r = num_hashes // bands
    vals = ", ".join(
        "({}, {})".format(b, " || ':' || ".join(
            f"CAST(h{b * r + k} AS VARCHAR)" for k in range(r)))
        for b in range(bands))
    return f"LATERAL (VALUES {vals}) AS b(band_id, band_key)"


def _band_structs(rows_per_band: int, bands: int):
    """(band_id, band_key) struct array from signature columns h0..h{K-1};
    band_key joins the band's minhashes as a ':'-separated decimal string
    (portable - DuckDB mirrors it via minhash_band_values_sql)."""
    return F.array(*[
        F.struct(
            F.lit(b).alias("band_id"),
            F.concat_ws(":", *[F.col(f"h{b * rows_per_band + r}")
                               for r in range(rows_per_band)])
            .alias("band_key"))
        for b in range(bands)
    ])


def minhash_signatures(shingled: DataFrame, id_col: str = "doc_id",
                       num_hashes: int = 8) -> DataFrame:
    """(id, h0..h{K-1}) minhash signature via explode -> one md5-derived
    base hash -> K affine permutations -> groupBy-min: all codegen, one
    shuffle on the id. Portable semantics: h_j = min over shingles of
    (A_j * x(s) + B_j) mod P with x(s) the first 8 md5 hex chars of the
    shingle as an integer mod P (see MINHASH_A/B/P above).

    Why explode+shuffle and not a per-row array fold: a "zero-shuffle"
    form (transform/array_min over the row's own shingle array, or a
    single F.aggregate fold) looks strictly better on paper, but
    Spark's higher-order functions are CodegenFallback — the md5/conv
    per element and the K min-passes run INTERPRETED, and measured at
    the 100x corpus that costs more than the (id, x) long-pair shuffle
    it saves: transform/array_min 14.0 s vs explode 13.2 s solo, and
    +40-70%% inside the curation funnels (6.6/7.0 s vs 4.2/4.1 s at
    100x), where the interpreted sketch leg is a larger share of the
    plan. The exploded rows are two longs wide and the groupBy-min
    combines map-side, so the shuffle this form pays is small and
    flat; keep this form unless higher-order functions stop being
    CodegenFallback."""
    if num_hashes > len(MINHASH_A):
        raise ValueError(f"num_hashes must be <= {len(MINHASH_A)}, "
                         f"got {num_hashes}")
    ex = shingled.select(id_col, F.explode("shingles").alias("s"))
    ex = ex.select(id_col, _base_hash(F.col("s")).alias("x"))
    return ex.groupBy(id_col).agg(*_perm_min_aggs(num_hashes))


def _base_hash(s: Column) -> Column:
    """x(s): first 8 md5 hex chars as an integer mod P — the one
    portable base hash every affine permutation reuses."""
    return (F.conv(F.substring(F.md5(s), 1, 8), 16, 10)
            .cast("long") % MINHASH_P)


def _perm_min_aggs(num_hashes: int) -> list:
    """min((A_j*x + B_j) mod P) AS h_j aggregate columns over a
    projected base-hash column ``x``."""
    return [F.min((F.lit(MINHASH_A[j]) * F.col("x")
                   + F.lit(MINHASH_B[j])) % MINHASH_P).alias(f"h{j}")
            for j in range(num_hashes)]


def minhash_bands(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", n: int = 3,
                  num_hashes: int = 8, bands: int = 4) -> DataFrame:
    """(id, band_id, band_key) rows: band_key concatenates rows_per_band
    consecutive minhashes. Docs sharing any band key are candidates."""
    sig = minhash_signatures(shingled_docs(df, id_col, text_col, n),
                             id_col, num_hashes)
    return (sig.select(id_col,
                       F.explode(_band_structs(num_hashes // bands,
                                               bands)).alias("band"))
            .select(id_col, "band.band_id", "band.band_key"))


def jaccard_from_sizes(inter: Column, total: Column) -> Column:
    """Jaccard from the integer intersection size and |A|+|B|: the one
    canonical guard/cast/fallback definition, shared by the inline form
    (:func:`jaccard`) and the single-eval verify leg of
    :func:`minhash_near_dups` so the two cannot drift."""
    union = total - inter
    return F.when(union > 0, inter.cast("double") / union) \
        .otherwise(F.lit(0.0))


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard on two distinct-element arrays: integer intersection /
    union sizes divided in double (portable, order-independent)."""
    inter = F.size(F.array_intersect(a, b))
    return jaccard_from_sizes(inter, F.size(a) + F.size(b))


def minhash_candidate_pairs(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", n: int = 3,
                            num_hashes: int = 8, bands: int = 4
                            ) -> tuple[DataFrame, DataFrame]:
    """Band-collision candidate pairs BEFORE the exact-Jaccard verify:
    (candidates, cached shingle table). Factored out of
    :func:`minhash_near_dups` so the recall harness
    (dedup_minhash_recall) can measure banding coverage - how many true
    near-dup pairs the LSH surfaces at all - separately from the verify
    step that restores precision. Both returned frames are cached (they
    each feed two join sides downstream).

    The cached shingle table also carries ``sh_hash`` — xxhash64-mapped
    shingles — so the verify leg can intersect fixed-width longs
    instead of ~25-byte shingle strings (see :func:`minhash_near_dups`);
    the string ``shingles`` column stays the signature/recall surface."""
    shingled = shingle_cache(df, id_col, text_col, n)
    return (minhash_candidates_from(shingled, id_col, num_hashes, bands),
            shingled)


def shingle_cache(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", n: int = 3) -> DataFrame:
    """The cached (id, shingles, sh_hash) table every minhash leg serves
    from (factored out so the bench can time this build separately from
    the band/verify serve path)."""
    return _cache(
        shingled_docs(widen_scan(df), id_col, text_col, n)
        .withColumn("sh_hash",
                    F.transform("shingles", lambda s: F.xxhash64(s))))


def minhash_candidates_from(shingled: DataFrame, id_col: str = "doc_id",
                            num_hashes: int = 8, bands: int = 4
                            ) -> DataFrame:
    """Band-collision candidate pairs from an already-cached shingle
    table (see :func:`minhash_candidate_pairs`)."""
    sig = minhash_signatures(shingled, id_col, num_hashes)
    bands_df = _cache(
        sig.select(id_col,
                   F.explode(_band_structs(num_hashes // bands,
                                           bands)).alias("band"))
        .select(id_col, "band.band_id", "band.band_key"))
    left = bands_df.alias("l")
    right = bands_df.alias("r")
    cand = (left.join(right,
                      (F.col("l.band_id") == F.col("r.band_id")) &
                      (F.col("l.band_key") == F.col("r.band_key")) &
                      (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
            .select(F.col(f"l.{id_col}").alias("id_a"),
                    F.col(f"r.{id_col}").alias("id_b"))
            .distinct())
    return cand


def minhash_near_dups(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3,
                      num_hashes: int = 8, bands: int = 4,
                      threshold: float = 0.5) -> DataFrame:
    """MinHash+LSH near-dup pairs, verified with exact Jaccard.

    Plan shape at scale: shingle (narrow) -> sign (one shuffle on id) ->
    explode bands -> self-join on (band_id, band_key) = shuffle on band
    keys, never an all-pairs product -> distinct candidate pairs -> verify
    via joins back to the shingle sets. Skewed buckets (boilerplate docs)
    are the known hazard - AQE skew-join handles moderate cases.

    Both derived tables feed two join sides -> cached to avoid recomputing
    the sketch pipeline per side.

    A "fold everything into one explode+groupBy" variant (the K
    permutation minima AND collect_list(xxhash64(s)) in the same
    aggregate, caching a string-free (id, h0..h7, sh_hash) frame) was
    measured at the 100x point and is 2x WORSE (20.1 s vs 10.1): a
    collect_list in the aggregate forces the whole thing off the
    codegen HashAggregate path onto ObjectHashAggregate, which costs
    far more than the string cache + second explode it saves. Keep the
    two-frame shape.

    The verify intersects xxhash64-mapped shingle arrays, not the
    shingle strings: identical Jaccard unless two DISTINCT shingles of
    one candidate pair collide in 64 bits (~300^2/2^65 per pair — about
    1e-8 summed over this corpus's ~3M pairs), and it both shrinks the
    pair-join shuffle ~3x (8-byte longs vs ~25-byte strings) and makes
    the per-pair intersection integer-keyed instead of string-keyed
    (measured 22.6 -> single-digit seconds on the 100x corpus' 3M
    candidate pairs).

    The intersection is evaluated ONCE per pair, behind a pushdown
    barrier: writing filter(jaccard >= t) over a projected jaccard
    column lets PushPredicateThroughNonJoin substitute the alias into
    the predicate, so the plan evaluates array_intersect TWICE per
    pair — once in the Filter over all ~3M candidates, once in the
    Project over survivors (plan-visible, and measured 4.4 vs 3.7 s on
    the 100x verify leg). The _mid column is that barrier: the rule
    only pushes through a Project whose fields are ALL deterministic,
    so one monotonically_increasing_id field (a long per row, never
    read) pins the intersect+sizes projection below the filter.
    Verified value-identical to the naive form on the full 100x result
    (2,503,171 pairs)."""
    cand, shingled = minhash_candidate_pairs(df, id_col, text_col, n,
                                             num_hashes, bands)
    return minhash_verify_from(cand, shingled, id_col, threshold)


def minhash_verify_from(cand: DataFrame, shingled: DataFrame,
                        id_col: str = "doc_id",
                        threshold: float = 0.5) -> DataFrame:
    """The single-eval hashed-long Jaccard verify over candidate pairs
    (see :func:`minhash_near_dups` for the barrier rationale). Factored
    out in r13 so the bench's warm-cache serve diagnostic runs the
    EXACT shipped verify — behavior unchanged.

    The two shingle attachments are explicit broadcasts (r14, guide
    §2.3/§8 "shuffle keys, not payloads"): Catalyst's static estimate
    of the cached shingle table flips these joins to SortMergeJoin at
    the 100x point, and the SECOND join then re-exchanges every pair
    row WITH its already-attached ~2.4 KB sh_a array — the heaviest
    shuffle in the whole LSH pipeline (pairs x arrays, ~6 GB at 100x,
    vs the ~40 MB of pair ids actually needed to route the join).
    Broadcasting the (id, sh_hash) projection instead keeps the pair
    stream pipelined through two map-side hash joins with no exchange
    between them. Measured at 100x (same-session interleaved A/B over
    8 reps): serve leg 7.90 -> 5.73 s min / 8.51 -> 5.90 s
    second-best, exceptAll 0 both directions on all 2,503,171 pairs.
    The shingle table is FACT-SCALE (grows with the corpus), so both
    hints route through session.broadcast_factscale — set
    SPARK_GRAFT_NO_FACTSCALE_BROADCAST=1 on deployments where the
    corpus' (id, sh_hash) projection exceeds executor broadcast
    budgets and the joins degrade to the declarative form. The band
    self-join is NOT broadcast: measured same-session, banding-side
    broadcast is neutral-to-worse (7.12 alone, 6.12 combined vs 5.73
    attach-only)."""
    from ..session import broadcast_factscale
    sa = broadcast_factscale(
        shingled.select(F.col(id_col).alias("id_a"),
                        F.col("sh_hash").alias("sh_a")))
    sb = broadcast_factscale(
        shingled.select(F.col(id_col).alias("id_b"),
                        F.col("sh_hash").alias("sh_b")))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    step = (cand.join(sa, "id_a").join(sb, "id_b")
            .select("id_a", "id_b", inter.alias("_inter"),
                    (F.size("sh_a") + F.size("sh_b")).alias("_tot"),
                    F.monotonically_increasing_id().alias("_mid")))
    jac = jaccard_from_sizes(F.col("_inter"), F.col("_tot"))
    return (step.select("id_a", "id_b", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 2,
                        threshold: float = 0.2,
                        max_id: int | None = None) -> DataFrame:
    """All-pairs exact n-gram Jaccard on a bounded subset (the brute-force
    baseline the LSH path is measured against). ``max_id`` bounds the
    quadratic blow-up; the scale path is minhash_near_dups."""
    base = df if max_id is None else df.filter(F.col(id_col) < max_id)
    sh = shingled_docs(base, id_col, text_col, n)
    a = sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    return (a.join(b, F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b",
                    jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def simhash64(df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text", portable: bool = False) -> DataFrame:
    """SimHash: per-token hash, bit-majority vote -> one sketch per doc.
    Near-dups differ in few bits.

    Two hash backends:
    - default: xxhash64 (JVM-native, fastest) -> 64-bit sketch. The 100 TB
      path.
    - portable=True: 60-bit hash from the first 15 hex chars of md5
      (conv base16 -> long; 15 chars = 60 bits < 2^63 so the cast is
      exact). md5 exists in DuckDB (``('0x' || substr(md5(t),1,15))::
      BIGINT``), so the WHOLE pipeline is reproducible by the SQL oracle
      - that is what upgrades the driver check from rows-only to
      value-hash. Same plan shape, ~2x hash cost.

    Implemented as explode(tokens) -> per-bit sign aggregation -> bit
    reassembly: one shuffle on doc_id, all native expressions. The
    per-bit sums are a single aggregate pass (no per-bit jobs).
    """
    nbits = 60 if portable else 64
    # tokenize+hash is the heavy pre-shuffle stage; widen single-split
    # local scans (no-op when the scan is already parallel)
    toks = widen_scan(df).select(id_col,
                                 F.explode(tokens(text_col)).alias("tok"))
    if portable:
        h = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    else:
        h = F.xxhash64("tok")
    staged = toks.select(id_col, h.alias("_h"))
    if portable:
        # Oracle/small-job variant: explode over bit POSITIONS (3 tiny
        # expressions) instead of a 60-accumulator aggregate. The wide
        # aggregate's generated code takes seconds to janino-compile,
        # which dominates wall time on verification-sized inputs; the
        # 60x pre-aggregate row fan-out it buys is irrelevant there.
        # (_h >= 0 for the 60-bit hash, so >> has no sign-extension.)
        per = (staged
               .select(id_col,
                       F.explode(F.sequence(F.lit(0), F.lit(nbits - 1)))
                        .alias("bit"),
                       "_h")
               .select(id_col, "bit", F.expr("(_h >> bit) & 1").alias("v"))
               .groupBy(id_col, "bit")
               .agg(F.sum("v").alias("set_cnt"), F.count("*").alias("n")))
        bitval = F.when(F.col("set_cnt") * 2 > F.col("n"),
                        F.expr("shiftleft(1L, bit)")) \
                  .otherwise(F.lit(0).cast("long"))
        # bit positions are distinct per doc, so SUM == bitwise OR
        return per.groupBy(id_col).agg(F.sum(bitval).alias("simhash"))
    # Scale path: one hash-map entry per doc with 64 long accumulators -
    # a single partial-agg pass, no 64x row fan-out before the shuffle.
    # Compile cost is a fixed few seconds, irrelevant in long-running jobs.
    one = F.lit(1).cast("long")
    bit_sums = staged.groupBy(id_col).agg(*[
        F.sum(F.when(F.col("_h").bitwiseAND(F.shiftleft(one, b)) != 0, 1)
              .otherwise(-1)).alias(f"b{b}")
        for b in range(nbits)
    ])
    sketch = None
    for b in range(nbits):
        bit = F.when(F.col(f"b{b}") > 0, F.shiftleft(one, b)) \
               .otherwise(F.lit(0).cast("long"))
        sketch = bit if sketch is None else sketch.bitwiseOR(bit)
    return bit_sums.select(id_col, sketch.alias("simhash"))


def simhash_near_dups(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      max_hamming: int = 3,
                      portable: bool = False) -> DataFrame:
    """SimHash near-dup pairs via 4-band buckets (a sketch pair within
    hamming distance 3 shares at least one of 4 bands), verified with
    exact popcount on the XOR. Bands are 16 bits (64-bit default sketch)
    or 15 bits (portable 60-bit md5 sketch)."""
    band_bits = 15 if portable else 16
    mask = (1 << band_bits) - 1
    sk = _cache(simhash64(df, id_col, text_col, portable=portable))
    bands = sk.select(
        id_col, "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band_id"),
                     F.shiftrightunsigned("simhash", b * band_bits)
                     .bitwiseAND(F.lit(mask)).alias("band_key"))
            for b in range(4)
        ])).alias("band")
    ).select(id_col, "simhash", "band.band_id", "band.band_key")
    l, r = bands.alias("l"), bands.alias("r")
    cand = (l.join(r, (F.col("l.band_id") == F.col("r.band_id")) &
                   (F.col("l.band_key") == F.col("r.band_key")) &
                   (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
            .select(F.col(f"l.{id_col}").alias("id_a"),
                    F.col(f"r.{id_col}").alias("id_b"),
                    F.col("l.simhash").alias("sh_a"),
                    F.col("r.simhash").alias("sh_b"))
            .distinct())
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (cand.select("id_a", "id_b", hamming.alias("hamming"))
            .filter(F.col("hamming") <= max_hamming))


def connected_components(edges: DataFrame, src: str = "id_a",
                         dst: str = "id_b", max_iter: int = 25) -> DataFrame:
    """Connected components by iterative min-label propagation: every
    vertex repeatedly adopts the smallest label among itself and its
    neighbors until no label changes. Returns (vertex, component_id)
    where component_id = the smallest vertex id in the component -
    turning near-dup PAIRS into near-dup CLUSTERS (the form a dedup
    keeper policy actually needs: keep each cluster's min id).

    The iterative-algorithm pattern on Spark: a driver loop whose body is
    pure DataFrame algebra, one `.count()` per round as the convergence
    check (a scalar, not a hot-path collect), and `localCheckpoint` each
    round to truncate the growing lineage - without it the plan doubles
    per iteration and the job dies on analysis cost long before data
    cost. Label propagation converges in O(diameter) rounds; near-dup
    clusters are shallow (diameter <= a few), so 25 rounds is a generous
    ceiling - the loop exits early the first round nothing changes.
    Raises RuntimeError if the ceiling is hit while labels are still
    moving: a component with diameter > max_iter would otherwise return
    silently WRONG (split) component ids.
    """
    both = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
            .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))))
    labels = (both.select("a").distinct()
              .select(F.col("a").alias("v"), F.col("a").alias("label"))
              .localCheckpoint())
    changed = None
    for _ in range(max_iter):
        neigh = (both.join(labels, both.b == labels.v)
                 .groupBy("a").agg(F.min("label").alias("nmin")))
        new = (labels.join(neigh, labels.v == neigh.a, "left")
               .select("v", F.least("label", F.coalesce("nmin", "label"))
                       .alias("label"))
               .localCheckpoint())
        changed = (new.alias("n")
                   .join(labels.alias("o"), F.col("n.v") == F.col("o.v"))
                   .filter(F.col("n.label") != F.col("o.label")).count())
        labels = new
        if changed == 0:
            break
    if changed:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            f"iterations ({changed} labels still changing); raise max_iter "
            f"(graph diameter exceeds it)")
    return labels.select(F.col("v").alias("vertex"),
                         F.col("label").alias("component_id"))


def repeated_span_dedup(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text",
                        span_tokens: int = 16,
                        two_pass: bool = True) -> DataFrame:
    """Corpus-level repeated-span removal, keep-first (the C4/RefinedWeb
    line-dedup recipe adapted to an unpunctuated corpus: the 'line' is a
    fixed window of ``span_tokens`` consecutive tokens). Every document
    is cut into non-overlapping spans; a span that already occurred
    earlier in the corpus (ordered by (id, span_idx)) is dropped; the
    surviving spans are re-joined into the deduplicated text. Returns
    (id, n_spans, n_spans_kept, text_dedup) for documents keeping >= 1
    span - fully-duplicated documents disappear, which IS the policy.

    Scale shape (default ``two_pass=True``, digest-only): posexplode is
    narrow; pass 1 ranks spans on (md5 digest, id, span_idx) so the one
    corpus-wide shuffle carries ONLY fixed-width keys (32-hex digest +
    id + int), never span text; the per-doc kept-index lists it produces
    shuffle by id carrying just integers. Pass 2 joins those lists back
    to the source documents on id and re-derives the surviving span text
    map-side - the document text crosses the wire once, in an equi-join
    that is shuffle-free when the corpus is id-bucketed (at 100 TB it
    is). ``two_pass=False`` keeps the legacy single-pass shape whose
    digest-partitioned window shuffles the span text itself; both
    variants rank on the same md5 digest and return identical rows
    (pinned by test_dedup).

    Caller contract: ``id_col`` values must be UNIQUE (the documents
    table's doc_id is). With duplicate ids the variants diverge — the
    single-pass groupBy merges duplicate-id rows into one interleaved
    output row, while pass 2's equi-join re-expands the merged
    kept-index list against EACH duplicate row's own token array;
    dedup ids upstream before calling this.

    Measured dead end (r12, do not retry): extracting spans with
    regexp_extract_all(text, r'\\S+( \\S+){0,15}') instead of the
    interpreted transform+slice is ~40%% faster on the digest leg
    (1.44 -> 0.90 s at 100x, and bit-identical THERE because the
    corpus is strictly single-spaced) — but '\\S+' and
    split(text, ' ') disagree wherever consecutive / leading /
    trailing spaces produce empty tokens, which the fuzz fixture pins
    ('a ' * 500 has a trailing empty token; ' ' is whitespace-only).
    The oracle's string_split(text, ' ') is the entry's semantics, so
    the regex form is a correctness break outside the happy corpus,
    rejected for ~0.5 s.

    Measured dead end (r14, do not retry): the BPE-style FLAT-PASS
    span build — regexp_replace(text, '(([^ ]* ){15}[^ ]*) ',
    '$1\\x00') marking every 16th space, split on the NUL, with a
    contains-NUL fallback to the expression form — is value-identical
    on the full 100x corpus (exceptAll 0 both ways, 479,754 rows) but
    74%% SLOWER: digest leg 6.48 -> 11.28 s min, full entry 9.10 ->
    15.49 s min (same-session interleaved A/B, 6 reps). Unlike the
    BPE encoder's trivial lookaround insert, this pattern pays a
    15-repetition captured group with a full-match rewrite per span,
    which costs more than the interpreted transform+slice it removes.
    The digest leg (tokenize + span build + md5, ~70%% of the entry)
    is the measured floor absent a codegen'd higher-order transform."""
    from pyspark.sql import Window

    # NULL text guard (same latent-crash class ADVICE flagged on
    # chunk_windows): size(NULL) is -1, so an unguarded sequence() emits
    # a phantom empty span here while the SQL oracle emits nothing -
    # null documents must drop on BOTH engines.
    docs = df.filter(F.col(text_col).isNotNull())
    spans_expr = (f"transform(sequence(0, (size(_t)-1) div {span_tokens}),"
                  f" i -> concat_ws(' ', slice(_t, i*{span_tokens}+1,"
                  f" {span_tokens})))")
    if not two_pass:
        spans = (docs
                 .select(id_col, tokens(text_col).alias("_t"))
                 .select(id_col,
                         F.expr(f"1 + (size(_t)-1) div {span_tokens}")
                         .alias("n_spans"),
                         F.posexplode(F.expr(spans_expr))
                         .alias("span_idx", "span")))
        w = Window.partitionBy(F.md5("span")).orderBy(id_col, "span_idx")
        kept = (spans.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1))
        return (kept.groupBy(id_col)
                .agg(F.max("n_spans").cast("long").alias("n_spans"),
                     F.count(F.lit(1)).alias("n_spans_kept"),
                     F.concat_ws(" ", F.transform(
                         F.array_sort(F.collect_list(
                             F.struct("span_idx", "span"))),
                         lambda s: s["span"])).alias("text_dedup")))

    # Pass 1: keep-first ranking on digests alone. The posexplode output
    # is projected down to (id, span_idx, md5) BEFORE the window shuffle,
    # so the corpus-wide exchange never carries span text.
    digests = (docs
               .select(id_col, tokens(text_col).alias("_t"))
               .select(id_col,
                       F.posexplode(F.expr(spans_expr))
                       .alias("span_idx", "span"))
               .select(id_col, "span_idx", F.md5("span").alias("_d")))
    w = Window.partitionBy("_d").orderBy(id_col, "span_idx")
    kept_idx = (digests.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .groupBy(id_col)
                .agg(F.count(F.lit(1)).alias("n_spans_kept"),
                     F.array_sort(F.collect_list("span_idx"))
                     .alias("_kept")))

    # Pass 2: narrow rebuild. n_spans is recomputed from _t here (not
    # carried through the window shuffle) - that second reference to _t
    # also stops CollapseProject from inlining the split() into the
    # transform lambda, where it would re-tokenize once per kept span.
    return (docs.join(kept_idx, id_col)
            .select(id_col, tokens(text_col).alias("_t"),
                    "n_spans_kept", "_kept")
            .select(id_col,
                    F.expr(f"1 + (size(_t)-1) div {span_tokens}")
                    .cast("long").alias("n_spans"),
                    "n_spans_kept",
                    F.concat_ws(" ", F.transform(
                        "_kept",
                        lambda i: F.concat_ws(" ", F.slice(
                            F.col("_t"), i * span_tokens + 1,
                            span_tokens)))).alias("text_dedup")))


def containment_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3,
                      max_df: int = 10,
                      threshold: float = 0.8) -> DataFrame:
    """ASYMMETRIC near-dup detection: containment C(A in B) =
    |S(A) & S(B)| / |S(A)| on distinct n-gram shingle sets. Jaccard
    misses quote-inclusion (a short doc embedded in a long one scores
    low symmetric similarity but ~1.0 containment); training-data
    pipelines dedup both.

    Candidate generation is a rare-shingle inverted index (the prefix-
    filtering family), NOT minhash bands: a Jaccard-tuned band join
    systematically misses containment, because the container's extra
    shingles steal the min-hashes (P[h_min(B) lands in A's subset] =
    |A|/|B|, exactly the small number containment is supposed to catch).
    Instead, two docs are candidates iff they share ANY shingle whose
    corpus document-frequency is in [2, max_df] - deterministic recall
    for every pair sharing a rare shingle, and the self-join cost is
    bounded by sum(df^2) over rare shingles, never all pairs. Pairs
    overlapping ONLY in boilerplate shingles (df > max_df) are skipped
    by design: ubiquitous-shingle overlap is not a quote. Emits pairs
    where either direction >= threshold, both directions reported;
    integer set sizes divided once in double - portable across
    engines.

    Every shingle is collapsed to a 60-bit md5-prefix long up front
    (the simhash trick): postings, df counts, candidate joins, and the
    per-pair set intersections all run on fixed-width longs. Measured
    on the sf0.1 corpus (436k candidate pairs x ~50-element sets) the
    string-array intersect cost 21 s; the long-array version runs the
    same exact semantics in ~2 s, and the pair shuffle carries 8-byte
    keys instead of ~20-char trigrams. Same-hash collisions are
    negligible at 60 bits and, because both engines hash identically,
    would be reproduced identically anyway."""
    posts = _cache(
        shingled_docs(df, id_col, text_col, n)
        .select(id_col, F.explode(F.array_distinct("shingles")).alias("s"))
        .select(id_col,
                F.conv(F.substring(F.md5("s"), 1, 15), 16, 10)
                .cast("long").alias("h")))
    hsets = _cache(posts.groupBy(id_col)
                   .agg(F.collect_set("h").alias("hs")))
    rare = (posts.groupBy("h")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter((F.col("df") >= 2) & (F.col("df") <= max_df))
            .select("h"))
    rposts = posts.join(rare, "h")
    a = rposts.select("h", F.col(id_col).alias("id_a"))
    b = rposts.select("h", F.col(id_col).alias("id_b"))
    cand = (a.join(b, "h")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct())
    sa = hsets.select(F.col(id_col).alias("id_a"), F.col("hs").alias("hs_a"))
    sb = hsets.select(F.col(id_col).alias("id_b"), F.col("hs").alias("hs_b"))
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    pairs = (cand.join(sa, "id_a").join(sb, "id_b")
             .select("id_a", "id_b",
                     F.when(F.size("hs_a") > 0,
                            inter.cast("double") / F.size("hs_a"))
                     .otherwise(F.lit(0.0)).alias("containment_a_in_b"),
                     F.when(F.size("hs_b") > 0,
                            inter.cast("double") / F.size("hs_b"))
                     .otherwise(F.lit(0.0)).alias("containment_b_in_a")))
    return pairs.filter((F.col("containment_a_in_b") >= threshold)
                        | (F.col("containment_b_in_a") >= threshold))


def _band_scheme(n: int, num_hashes: int, bands: int) -> str:
    """Canonical descriptor of everything that determines a band_key:
    shingle width, band layout, the affine-permutation constants and
    the key format. Any change to the signature scheme changes this
    string, so a persisted index built under an older scheme is
    detected instead of silently yielding zero collisions."""
    return ("minhash-affine-v2"            # v1 was md5-hex concat keys
            f";n={n};k={num_hashes};bands={bands};p={MINHASH_P}"
            f";a={','.join(map(str, MINHASH_A[:num_hashes]))}"
            f";b={','.join(map(str, MINHASH_B[:num_hashes]))}"
            ";key=dec-colon")


def build_band_index(df: DataFrame, path: str, id_col: str = "doc_id",
                     text_col: str = "text", n: int = 3,
                     num_hashes: int = 8, bands: int = 4) -> None:
    """Persist the corpus's MinHash BAND TABLE (id, band_id, band_key)
    as parquet: the incremental-ingest dedup index. Amortizes the
    corpus-side sketch cost once; each arriving batch then probes it
    with an equi-join instead of re-sketching the corpus. band_key is
    md5-derived (one base hash + the MINHASH_A/B/P permutations -
    portable), so the on-disk index is engine-neutral and an oracle
    can recompute it from the raw corpus.

    The signature scheme (constants + key format) is written alongside
    the data under ``{path}/_scheme`` (a ``_``-prefixed subdir, so the
    band read ignores it); :func:`probe_band_index` refuses a
    mismatched index instead of silently finding zero candidates."""
    bands_df = minhash_bands(df, id_col, text_col, n, num_hashes, bands)
    bands_df.write.mode("overwrite").parquet(path)
    spark = bands_df.sparkSession
    (local_frame(spark, [(_band_scheme(n, num_hashes, bands),)],
                 "scheme string")
     .coalesce(1).write.mode("overwrite").parquet(f"{path}/_scheme"))


def probe_band_index(spark, path: str, batch: DataFrame,
                     corpus: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", n: int = 3,
                     num_hashes: int = 8, bands: int = 4,
                     threshold: float = 0.5) -> DataFrame:
    """Incremental near-dup check: which NEW docs duplicate the indexed
    corpus? Sketches ONLY the batch, equi-joins its bands against the
    persisted index for candidates, then verifies with exact Jaccard -
    fetching (and shingling) only the corpus docs that actually
    collided, via a semi-join, so corpus work is proportional to the
    candidate set, not the corpus. Returns
    (new_id, corpus_id, jaccard >= threshold).

    This is the ingest-time shape of dedup at 100 TB: the corpus index
    is built once (build_band_index) and every new shard is a
    batch-sized sketch plus a band-key equi-join - the corpus text is
    never rescanned except for the matched handful of docs.

    Raises ValueError if the index at ``path`` was built under a
    different signature scheme (or predates scheme stamping): probing
    such an index would silently return zero candidates."""
    expect = _band_scheme(n, num_hashes, bands)
    try:
        found = [r["scheme"] for r in
                 spark.read.parquet(f"{path}/_scheme").collect()]
    except AnalysisException as exc:
        # ONLY path-not-found maps to the "predates stamping" message;
        # unrelated failures (permissions, corrupt footer, transient FS
        # errors) must propagate untranslated (ADVICE r11) — a bare
        # except here misdiagnosed them as a missing descriptor. An
        # AnalysisException that is NOT path-not-found (e.g.
        # UNABLE_TO_INFER_SCHEMA from a half-written empty _scheme
        # dir) re-raises too (r12 review finding).
        klass = exc.getCondition() or ""
        if "PATH_NOT_FOUND" not in klass:
            raise
        raise ValueError(
            f"band index at {path} has no _scheme descriptor — it "
            f"predates scheme stamping; rebuild with build_band_index "
            f"(expected {expect!r})") from exc
    if found != [expect]:
        raise ValueError(
            f"band index at {path} was built under scheme "
            f"{found!r}, probe expects {expect!r}; rebuild with "
            f"build_band_index")
    idx = (spark.read.parquet(path)
           .select(F.col(id_col).alias("corpus_id"),
                   "band_id", "band_key"))
    bsh = _cache(shingled_docs(batch, id_col, text_col, n))
    sig = minhash_signatures(bsh.select(F.col(id_col),
                                        F.col("shingles")),
                             id_col, num_hashes)
    bbands = (sig.select(id_col,
                         F.explode(_band_structs(num_hashes // bands,
                                                 bands)).alias("band"))
              .select(F.col(id_col).alias("new_id"),
                      "band.band_id", "band.band_key"))
    cand = (bbands.join(idx, ["band_id", "band_key"])
            .select("new_id", "corpus_id").distinct())
    matched = corpus.join(
        cand.select(F.col("corpus_id").alias(id_col)).distinct(),
        id_col, "semi")
    csh = (shingled_docs(matched, id_col, text_col, n)
           .select(F.col(id_col).alias("corpus_id"),
                   F.col("shingles").alias("sh_c")))
    bsh2 = bsh.select(F.col(id_col).alias("new_id"),
                      F.col("shingles").alias("sh_n"))
    return (cand.join(bsh2, "new_id").join(csh, "corpus_id")
            .select("new_id", "corpus_id",
                    jaccard(F.col("sh_n"), F.col("sh_c")).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))
