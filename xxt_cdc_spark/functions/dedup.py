"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the point of these at 100 TB):

- exact dedup: one hash-shuffle on the fingerprint (map-side partial
  aggregation applies).
- n-gram Jaccard: candidate pairs via an equi-join on shared shingles
  — never the O(n²) cross join. Hot shingles can be frequency-capped.
- MinHash+LSH: k min-hashes per doc (one shuffle), banding turns the
  pair search into an equi-join on band keys; only candidates get the
  exact Jaccard verification. This is the sub-quadratic scale path.
- SimHash: fixed-width bit-vote signature per doc (one aggregation);
  near-dup = small Hamming distance.

All hash material is md5 (JVM built-in, and portable to the DuckDB
oracle); min-over-md5-hex is the random-permutation approximation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xxt_cdc_spark.functions.text import bow_fingerprint, fingerprint


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bow: bool = False) -> DataFrame:
    """Keep the lowest id per content fingerprint; adds group size."""
    fp = bow_fingerprint(text_col) if bow else fingerprint(text_col)
    with_fp = df.withColumn("fp", fp)
    groups = with_fp.groupBy("fp").agg(
        F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count")
    )
    return groups.select(id_col, "fp", "dup_count")


def shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles, one row per (doc, shingle).

    sequence+transform keeps shingle construction JVM-side; shingles
    are deduped per doc before the explode so downstream joins see set
    semantics.
    """
    # tokenize ONCE into a column — inlining the split into the
    # transform lambda would re-split the text for every shingle index
    # (higher-order functions are interpreted, no common-subexpression
    # elimination across the lambda boundary)
    # IF-guard: sequence(0, negative) would generate a DESCENDING range
    # in Spark, so short docs must short-circuit to an empty array.
    shingle_arr = (
        f"IF(size(__toks) >= {n}, "
        f"transform(sequence(0, size(__toks) - {n}), "
        f"i -> array_join(slice(__toks, i + 1, {n}), ' ')), "
        f"array())"
    )
    # a small corpus often arrives as one parquet file → one partition,
    # which would serialize the interpreted shingle construction; spread
    # docs across cores first (cheap: pre-explode row count)
    n_parts = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    return (
        df.repartition(n_parts)
        .select(F.col(id_col), F.expr(f"split(trim({text_col}), '\\\\s+')").alias("__toks"))
        .select(F.col(id_col), F.explode(F.array_distinct(F.expr(shingle_arr))).alias("shingle"))
    )


def shingle_keys(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Distinct 64-bit shingle keys, one row per (doc, sh64) — the
    string-free fast path for joins that only need shingle IDENTITY
    (Jaccard candidate generation), not the shingle text.

    ``xxhash64(tok_i, …, tok_{i+n-1})`` hashes the n tokens directly
    (seed-chained, length-prefixed per element, so ("ab","c") and
    ("a","bc") differ) — skipping the slice + array_join string
    allocation of ``shingles()``, which profiling put at ~80% of the
    whole jaccard_pairs cost at sf0.1 (interpreted HOF building 260k
    ~30-byte strings). Distinct-on-hash equals distinct-on-string up to
    64-bit collisions WITHIN one document (~1e-19 per doc) — the same
    phantom-shared-count argument jaccard_pairs already makes for
    joining on xxhash64(shingle).
    """
    toks = ", ".join(f"element_at(__toks, i + {k + 1})" for k in range(n))
    keys_arr = (
        f"IF(size(__toks) >= {n}, "
        f"transform(sequence(0, size(__toks) - {n}), i -> xxhash64({toks})), "
        f"array())"
    )
    # the explode keeps the HOF INLINE as the generator input on
    # purpose: materializing the array as a named column first turns
    # the generator input into an attribute, which lets
    # InferFiltersFromGenerate add a `size(e)>0 AND isnotnull(e)`
    # pre-filter that CollapseProject then inlines and pushes below
    # the repartition — re-evaluating the whole shingle HOF twice more
    # per doc (r13, measured; the rule's SPARK-36715 guard skips
    # inline non-attribute inputs).
    n_parts = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    return (
        df.repartition(n_parts)
        .select(F.col(id_col), F.expr(f"split(trim({text_col}), '\\\\s+')").alias("__toks"))
        .select(F.col(id_col), F.explode(F.array_distinct(F.expr(keys_arr))).alias("sh64"))
    )


def shingle_sizes(sh: DataFrame, id_col: str = "doc_id") -> DataFrame:
    return sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    df_cap: int | None = None,
) -> DataFrame:
    """Near-dup pairs by exact n-gram Jaccard. Columns: i, j, jaccard (i < j).

    ``df_cap``: optional stop-shingle document-frequency cut —
    shingles appearing in more than ``df_cap`` docs are too common to
    discriminate and their self-join fanout grows QUADRATICALLY with
    corpus scale (the hot shingle IS the shuffle skew; measured at
    sf1, 87% of pair-weight sat in DF>50 shingles). With the cap, the
    Jaccard is computed over the rare-shingle sets only — the IR
    stop-word-removal posture — which keeps the single-pass join shape
    (a candidate-only cap with exact verification re-joins every
    candidate pair against the full shingle frame and measured 10x
    slower). Deterministic: both this and the DuckDB oracle drop the
    same shingles, so results are identical by construction; pick
    ``df_cap`` above the corpus's max DF to make it a provable no-op
    (how the oracle gate runs it).
    """
    # the shingle frame feeds 3-5 subtrees (both join sides, sizes,
    # candidate generation); cache it instead of re-running the
    # split/transform/explode per subtree (persist, not localCheckpoint:
    # lineage truncation makes the DAGScheduler log spurious
    # lost-accumulator errors on reuse)
    # self-join on the 8-byte shingle KEY, never the string: the join
    # shuffles each shingle row twice and a word n-gram is ~20-40
    # bytes. shingle_keys() hashes the n tokens directly without ever
    # materializing the n-gram string (a phantom shared-count needs two
    # distinct shingles of the SAME doc pair to collide in 64 bits —
    # ~1e-9 across the whole corpus)
    # NOTE (r13): an inline-count fold (ni/nj riding the self-join as
    # extra grouping keys via shingle_keys(with_count=True)) was
    # measured −33% at sf0.1 and REVERSED by the sf1 slope protocol
    # (+15-45%): the extra keys sit on the QUADRATIC candidate stream
    # — at scale the hot-shingle fanout makes candidate rows dominate,
    # and hashing (i,j,ni,nj) instead of (i,j) per candidate row costs
    # more than the two map-side-combined doc aggregations it saved.
    # The toy-width win was stage count, not data. The candidate
    # aggregation therefore keeps NARROW keys; the denominators join
    # onto the aggregated (small) pair list.
    sh = shingle_keys(df, text_col, id_col, n)
    if df_cap is not None:
        # stop-shingle filter: drop DF > cap rows BEFORE the self-join
        # AND from the size denominators (Jaccard over rare shingles);
        # the DF agg, the semi-join and the self-join all shuffle on
        # sh64, so the raw-shingle exchange is planned once and reused
        # — which is why only the FILTERED frame is persisted (caching
        # the pre-filter frame too would double the query's largest
        # intermediate in executor storage for no extra reuse)
        rare = (
            sh.groupBy("sh64")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= df_cap)
            .select("sh64")
        )
        sh = sh.join(rare, "sh64")
    sh = sh.persist()
    # one row per doc, broadcast twice (ni then nj) — persisted so the
    # doc-keyed aggregation over the shingle frame runs ONCE;
    # unpersisted, the two broadcast subtrees each re-aggregate it
    # (Catalyst does not CSE across broadcast exchanges — r13, the
    # plan showed two identical agg subtrees). Neither this nor `sh`
    # is unpersisted here by design: callers re-materialize the frame
    # (bench best-of-2, clustering fixpoints), and cross-query
    # executor-storage accumulation was tested and REFUTED as a drift
    # source (SCALING.md "Round-13: cache-pressure hypothesis" — drift
    # is box-level); the bench loop clearCache()s before the sink phases.
    sizes = shingle_sizes(sh, id_col).persist()
    # single-pass: shared counts straight off the shingle self-join
    a = sh.select(F.col(id_col).alias("i"), "sh64")
    b = sh.select(F.col(id_col).alias("j"), "sh64")
    shared = (
        a.join(b, "sh64")
        .filter(F.col("i") < F.col("j"))
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    na = sizes.select(F.col(id_col).alias("i"), F.col("n_shingles").alias("ni"))
    nb = sizes.select(F.col(id_col).alias("j"), F.col("n_shingles").alias("nj"))
    jac = (
        shared.join(na, "i")
        .join(nb, "j")
        .withColumn(
            "jaccard",
            F.col("shared").cast("double") / (F.col("ni") + F.col("nj") - F.col("shared")),
        )
    )
    return jac.filter(F.col("jaccard") >= threshold).select("i", "j", "jaccard")


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 6,
    n: int = 3,
) -> DataFrame:
    """k MinHash values per doc: sig_s = min over shingles of
    md5('s<s>:'||shingle). One shuffle (groupBy doc)."""
    sh = shingles(df, text_col, id_col, n)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"s{s}:"), F.col("shingle")))).alias(f"h{s}")
        for s in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    sig: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 6,
    rows_per_band: int = 2,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Band the signatures and equi-join on (band_index, band_key) —
    the LSH trick that avoids the O(n²) comparison.

    Bands come from ONE posexplode pass, not a per-band union — a union
    of b projections would re-run the whole signature computation b
    times (and the self-join would double that again).

    ``bucket_cap``: drop (band, key) buckets holding more than this
    many docs before the self-join — the standard production-LSH
    hot-bucket cut. A bucket of size s contributes s²/2 candidate
    pairs, so a templated/boilerplate cluster turns the banded join
    quadratic again (measured at sf10: 71% of candidate pair-weight
    sat in buckets > 50 docs; max bucket 635). Members of an
    over-cap bucket usually still share a *smaller* bucket in another
    band — recall loss is confined to giant near-identical clusters,
    which exact-hash dedup catches first anyway. Deterministic, so the
    DuckDB oracle mirrors it; pick the cap above the gate-scale max
    bucket (3 at sf0.01) to make it a provable no-op there.
    """
    band_keys = [
        F.concat_ws(
            "|", *[F.col(f"h{bi * rows_per_band + r}") for r in range(rows_per_band)]
        )
        for bi in range(num_hashes // rows_per_band)
    ]
    bands = sig.select(
        F.col(id_col), F.posexplode(F.array(*band_keys)).alias("band_index", "band_key")
    )
    if bucket_cap is not None:
        ok = (
            bands.groupBy("band_index", "band_key")
            .agg(F.count(F.lit(1)).alias("bsz"))
            .filter(F.col("bsz") <= bucket_cap)
            .drop("bsz")
        )
        # the size agg, the semi-join and the self-join all shuffle on
        # the same (band_index, band_key), so this adds no new exchange
        bands = bands.join(ok, ["band_index", "band_key"])
    a = bands.select(F.col(id_col).alias("i"), "band_index", "band_key")
    b = bands.select(F.col(id_col).alias("j"), "band_index", "band_key")
    return (
        a.join(b, ["band_index", "band_key"])
        .filter(F.col("i") < F.col("j"))
        .select("i", "j")
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 6,
    rows_per_band: int = 2,
    n: int = 3,
    threshold: float = 0.5,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Full MinHash-LSH pipeline: signatures → banded candidates →
    exact-Jaccard verification of candidates only.

    The shingle frame feeds four subtrees (signatures, both sides of
    the verification join, sizes); caching it computes the
    split/transform/explode once instead of once per subtree.
    """
    sh = (
        shingles(df, text_col, id_col, n)
        .select(id_col, "shingle", F.xxhash64("shingle").alias("sh64"))
        .persist()
    )
    # sig is tiny (one row per doc) but feeds both sides of the band
    # self-join — cache it so the shingle agg shuffle runs once. The
    # per-doc shingle COUNT rides the same aggregation (r12): a
    # separate shingle_sizes groupBy would re-shuffle the full shingle
    # frame on the same key a second time for one extra column.
    sig = sh.groupBy(id_col).agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"s{s}:"), F.col("shingle")))).alias(f"h{s}")
            for s in range(num_hashes)
        ],
        F.count(F.lit(1)).alias("n_shingles"),
    ).persist()
    cand = lsh_candidate_pairs(sig, id_col, num_hashes, rows_per_band, bucket_cap)
    sizes = sig.select(id_col, "n_shingles")
    a = sh.select(F.col(id_col).alias("i"), "sh64")
    b = sh.select(F.col(id_col).alias("j"), "sh64")
    # the second join keys on (j, sh64) — joining on j alone and
    # post-filtering shingle equality would expand every candidate
    # pair to |shingles_i| × |shingles_j| rows before filtering
    shared = (
        cand.join(a, "i")
        .join(b, ["j", "sh64"])
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    na = sizes.select(F.col(id_col).alias("i"), F.col("n_shingles").alias("ni"))
    nb = sizes.select(F.col(id_col).alias("j"), F.col("n_shingles").alias("nj"))
    jac = (
        shared.join(na, "i")
        .join(nb, "j")
        .withColumn(
            "jaccard",
            F.col("shared").cast("double") / (F.col("ni") + F.col("nj") - F.col("shared")),
        )
    )
    return jac.filter(F.col("jaccard") >= threshold).select("i", "j", "jaccard")


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    max_iterations: int = 20,
    driver_threshold: int = 2_000_000,
) -> DataFrame:
    """Small-diameter connected components by min-label propagation.

    ``vertices``: one column ``id``; ``edges``: columns ``i``, ``j``.
    Returns (id, component) where component = min id reachable. Each
    iteration is one join+groupBy; near-dup clusters have tiny diameter
    so convergence takes O(log d) rounds — checked by a fixpoint count,
    not hope. Deterministic (min-label), so oracle-comparable against a
    recursive-CTE transitive closure.

    Near-dup edge sets are sparse relative to the corpus (a 100 TB shard
    with 1% dup rate has ~1e6 edges per 1e8 docs): when the edge set
    fits on the driver (``driver_threshold``), skip the iterative
    join loop entirely — one union-find pass over the collected edges,
    broadcast the (edge-touched ids only) label map back, and coalesce
    untouched vertices to themselves. Identical output, zero fixpoint
    shuffles. The distributed loop remains the path for dense graphs.
    """
    # Probe the driver path with ONE job: collect at most threshold+1
    # edge rows through CollectLimit (no persist, no separate count —
    # the r4 count+collect double-pass paid a full cache materialization
    # that the common sparse-edge path never reads again). If the limit
    # row arrives, the edge set is too big for the driver: fall through
    # to the distributed loop, persisting edges only THEN (the loop
    # re-joins them every fixpoint iteration). Unpersisted in the
    # finally — the loop labels are localCheckpoint'd each iteration so
    # the returned plan is edge-independent and long pipelines don't
    # leak cached partitions.
    probe = edges.select("i", "j").limit(driver_threshold + 1).collect()
    if len(probe) <= driver_threshold:
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        for row in probe:
            ri, rj = find(row[0]), find(row[1])
            if ri != rj:
                # min id becomes the root so the label IS min(reachable)
                lo, hi = (ri, rj) if ri < rj else (rj, ri)
                parent[hi] = lo
        mapping = [(x, find(x)) for x in parent]
        spark = vertices.sparkSession
        if mapping:
            id_field = vertices.schema[id_col].dataType
            mdf = spark.createDataFrame(
                mapping, T.StructType([
                    T.StructField("a", id_field), T.StructField("__comp", id_field),
                ])
            )
            return (
                vertices.select(F.col(id_col).alias("a"))
                .join(F.broadcast(mdf), "a", "left")
                .select(
                    F.col("a").alias(id_col),
                    F.coalesce(F.col("__comp"), F.col("a")).alias("component"),
                )
            )
        return vertices.select(F.col(id_col), F.col(id_col).alias("component"))
    del probe
    edges = edges.persist()
    sym = None
    try:
        sym = (
            edges.select(F.col("i").alias("a"), F.col("j").alias("b"))
            .unionByName(edges.select(F.col("j").alias("a"), F.col("i").alias("b")))
            .distinct()
            .persist()  # re-joined every fixpoint iteration
        )
        labels = vertices.select(F.col(id_col).alias("a"), F.col(id_col).alias("component"))
        for _ in range(max_iterations):
            neighbor_min = (
                sym.join(labels.withColumnRenamed("a", "b"), "b")
                .groupBy("a")
                .agg(F.min("component").alias("nmin"))
            )
            updated = (
                labels.join(neighbor_min, "a", "left")
                .select(
                    "a",
                    F.least(
                        F.col("component"), F.coalesce(F.col("nmin"), F.col("component"))
                    ).alias("component"),
                )
                .localCheckpoint()  # fixpoint loop: cut the growing lineage
            )
            changed = (
                updated.alias("u")
                .join(labels.alias("l"), "a")
                .filter(F.col("u.component") != F.col("l.component"))
                .count()
            )
            labels = updated
            if changed == 0:
                break
        return labels.select(F.col("a").alias(id_col), "component")
    finally:
        edges.unpersist()
        if sym is not None:
            sym.unpersist()


def dedup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Transitive near-dup closure: group documents whose Jaccard
    near-dup pairs connect them (directly or through intermediates) and
    elect min-id representatives — the standard 'keep one per duplicate
    cluster' selection of a training-data pipeline."""
    pairs = jaccard_pairs(df, text_col, id_col, n, threshold)
    comp = connected_components(df.select(F.col(id_col).alias("id")), pairs)
    return comp.select(
        F.col("id").alias(id_col),
        F.col("component").alias("cluster"),
        (F.col("id") == F.col("component")).alias("is_representative"),
    )


def simhash_bit_predicate(b: int, bits: int) -> tuple[int, str]:
    """(1-based md5 hex digit, IN-set SQL) extracting signature bit ``b``.

    - bits ≤ 32: top bit of hex digit b (one bit per digit) — the
      historical layout.
    - bits ≤ 64: two bits per hex digit — even b takes the digit's top
      bit (digit ≥ 8), odd b the second bit (digit & 4). One md5 per
      token still supplies every bit.
    Shared by the Spark expression and the DuckDB oracle mirror so both
    engines compute identical signatures.
    """
    if bits > 64:
        raise ValueError("simhash supports at most 64 bits (md5 hex digits × 2)")
    if bits <= 32:
        digit, sub = b, 0
    else:
        digit, sub = b // 2, b % 2
    in_set = (
        "('8','9','a','b','c','d','e','f')" if sub == 0 else "('4','5','6','7','c','d','e','f')"
    )
    return digit + 1, in_set


def simhash_signature(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
) -> DataFrame:
    """SimHash over the token multiset: bit b = sign of the vote
    Σ_tokens (bit_b(md5(token)) ? +1 : −1). Signature returned as a
    bit string (portable across engines).

    Bit extraction per ``simhash_bit_predicate``: up to 64 bits from
    one md5 per token (two bits per hex digit above 32).
    """
    # hash each token ONCE — a per-bit inline md5 would recompute the
    # digest bits× per token (md5 dominates; the per-bit substring vote
    # over the precomputed digest array is cheap)
    votes = []
    for b in range(bits):
        digit, in_set = simhash_bit_predicate(b, bits)
        votes.append(
            F.expr(
                f"aggregate(transform(__md5s, h -> "
                f"CASE WHEN substring(h, {digit}, 1) IN {in_set} "
                f"THEN 1 ELSE -1 END), 0, (acc, v) -> acc + v)"
            ).alias(f"v{b}")
        )
    n_parts = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    with_votes = (
        df.repartition(n_parts)
        .select(
            F.col(id_col),
            F.expr(f"transform(split(trim({text_col}), '\\\\s+'), t -> md5(t))").alias("__md5s"),
        )
        .select(F.col(id_col), *votes)
    )
    sig = F.concat(
        *[F.when(F.col(f"v{b}") > 0, F.lit("1")).otherwise(F.lit("0")) for b in range(bits)]
    )
    return with_votes.select(F.col(id_col), sig.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    max_hamming: int = 3,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance.

    Pair generation joins on the first half of the signature (a
    1-band LSH on the simhash itself) — at max_hamming ≪ bits/2 most
    true pairs agree on one half; this keeps the join sub-quadratic.
    For the oracle-checked small corpus we use both half-joins
    (either half equal) which is exact for hamming ≤ bits/2 − 1 per half.

    Internally the bit-string signature is collapsed to ONE long per
    doc: half-keys become shift/mask (not substring), candidate rows
    shuffle 8-byte ints (not 16-char strings), and hamming is a single
    ``bit_count(xor)`` instead of ``bits`` substring comparisons per
    candidate pair — same values, far less work on the (large)
    candidate side.
    """
    # the signature feeds four join branches (a/b sides × two halves);
    # cache the per-doc frame so the token-hash votes run once
    sig = simhash_longs(df, text_col, id_col, bits).persist()
    return simhash_pairs_from_longs(sig, id_col, bits, max_hamming, bucket_cap)


def simhash_longs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
) -> DataFrame:
    """(id, s): the SimHash signature collapsed to ONE bigint per doc —
    the form every downstream join/compare uses (8-byte shuffle keys,
    ``bit_count(xor)`` hamming)."""
    if bits <= 32:
        to_long = "cast(conv(simhash, 2, 10) as bigint)"
    else:
        # conv() renders unsigned and a ≥2^63 value won't cast back to
        # bigint — combine two ≤32-bit halves instead (shiftleft wraps
        # into two's complement, which every downstream bit op handles)
        hi = bits - 32
        to_long = (
            f"shiftleft(cast(conv(substring(simhash, 1, {hi}), 2, 10) as bigint), 32)"
            f" + cast(conv(substring(simhash, {hi + 1}, 32), 2, 10) as bigint)"
        )
    return simhash_signature(df, text_col, id_col, bits).select(
        F.col(id_col), F.expr(to_long).alias("s")
    )


def simhash_pairs_from_longs(
    sig: DataFrame,
    id_col: str = "doc_id",
    bits: int = 16,
    max_hamming: int = 3,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Near-dup pairs from a precomputed (id, s) long-signature frame —
    the join/verify half of ``simhash_pairs``, reusable against stored
    signatures (IncrementalSimHashDeduper).

    ``bucket_cap``: drop half-key buckets holding more than this many
    docs from the corresponding join branch — the same hot-bucket cut
    as ``lsh_candidate_pairs``: a giant near-identical cluster makes
    every one of its half-keys a quadratic join key. Deterministic and
    oracle-mirrorable; sized to never bind at the gate scale factors.
    """
    half = bits // 2
    mask = (1 << half) - 1
    a = sig.select(F.col(id_col).alias("i"), F.col("s").alias("si"))
    b = sig.select(F.col(id_col).alias("j"), F.col("s").alias("sj"))
    fa = a.withColumn("k", F.shiftright("si", half))
    fb = b.withColumn("k", F.shiftright("sj", half))
    if bucket_cap is not None:
        fh_ok = (
            sig.groupBy(F.shiftright("s", half).alias("k"))
            .agg(F.count(F.lit(1)).alias("bsz"))
            .filter(F.col("bsz") <= bucket_cap)
            .drop("bsz")
        )
        fa = fa.join(fh_ok, "k")
    first_half = fa.join(fb, "k")
    # disjoint branches instead of union+distinct: a pair equal on BOTH
    # halves would surface twice, so the second branch admits only pairs
    # whose first halves differ — same candidate set, and the (large)
    # candidate frame never pays a dedup shuffle
    sa = a.withColumn("k", F.col("si").bitwiseAND(F.lit(mask)))
    sb = b.withColumn("k", F.col("sj").bitwiseAND(F.lit(mask)))
    if bucket_cap is not None:
        sh_ok = (
            sig.groupBy(F.col("s").bitwiseAND(F.lit(mask)).alias("k"))
            .agg(F.count(F.lit(1)).alias("bsz"))
            .filter(F.col("bsz") <= bucket_cap)
            .drop("bsz")
        )
        sa = sa.join(sh_ok, "k")
    second_half = sa.join(sb, "k").filter(F.shiftright("si", half) != F.shiftright("sj", half))
    cand = (
        first_half.select("i", "j", "si", "sj")
        .unionByName(second_half.select("i", "j", "si", "sj"))
        .filter(F.col("i") < F.col("j"))
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("si").bitwiseXOR(F.col("sj"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("i", "j", "hamming")
    )


class IncrementalDeduper:
    """Cross-batch exact dedup against a persistent fingerprint store —
    the shape of a real ingest pipeline, where today's shard must dedup
    against everything already accepted, not just against itself.

    Per micro-batch (usable directly as a ``foreachBatch`` body, or
    called from one):

    1. fingerprint each doc (md5 of normalized text, same function as
       ``exact_dedup``);
    2. batch-internal collapse — lowest id per fingerprint wins;
    3. anti-join the survivors against the bucket-partitioned state
       table (only the buckets the batch's fingerprints hash into are
       read — at 100 TB the state is big but each batch touches a
       bounded slice);
    4. merge accepted fingerprints back into the state (bucket-pruned
       dynamic-partition overwrite, idempotent: re-running a batch
       re-accepts the same ids).

    Returns the accepted (doc id, fingerprint) frame; callers join it
    back to the batch to forward surviving payloads.
    """

    def __init__(
        self,
        spark,
        state_root: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        n_buckets: int = 64,
    ) -> None:
        from xxt_cdc_spark.sinks.parquet_state import ParquetStateTable

        self.text_col = text_col
        self.id_col = id_col
        self.state = ParquetStateTable(spark, state_root, key_cols=["fp"], n_buckets=n_buckets)
        if not self.state.exists():
            self.state.init(
                spark.createDataFrame([], T.StructType([
                    T.StructField("fp", T.StringType()),
                    T.StructField(id_col, T.LongType()),
                ]))
            )

    def process(self, batch_df: DataFrame) -> DataFrame:
        """Dedup one batch; persist accepted fingerprints; return the
        accepted (id, fp) rows."""
        from xxt_cdc_spark.functions.text import fingerprint

        with_fp = batch_df.select(
            F.col(self.id_col), fingerprint(self.text_col).alias("fp")
        )
        # batch-internal: first (lowest-id) occurrence per fingerprint
        local = with_fp.groupBy("fp").agg(F.min(self.id_col).alias(self.id_col)).localCheckpoint()
        # cross-batch: accept docs that are (or now become) the canonical
        # owner of their fingerprint. A replayed batch re-returns its
        # previously accepted ids (owner == candidate) instead of
        # dropping them — foreachBatch retries stay lossless.
        # Read ONLY the buckets this batch's fingerprints hash into —
        # the collect is bounded by n_buckets, and the state scan prunes
        # to those partitions (at 100 TB the state is big; a batch
        # touches a bounded slice).
        touched = [
            r["b"]
            for r in local.select(self.state.bucket_of(F.col("fp")).alias("b")).distinct().collect()
        ]
        owners = self.state.read_buckets(touched).select(
            "fp", F.col(self.id_col).alias("__owner")
        )
        accepted = (
            local.join(owners, "fp", "left")
            .filter(F.col("__owner").isNull() | (F.col("__owner") == F.col(self.id_col)))
            .select(self.id_col, "fp")
            .localCheckpoint()
        )
        fresh = accepted.join(owners.select("fp"), "fp", "left_anti")
        if not fresh.isEmpty():
            self.state.apply(
                fresh.withColumn("op", F.lit("I")),
                order_cols=[self.id_col],
            )
        return accepted


class IncrementalNearDeduper:
    """Cross-batch NEAR-dup rejection against a persistent MinHash band
    store — the fuzzy twin of ``IncrementalDeduper`` (ROADMAP round-2
    item 3): today's shard must drop near-copies of everything already
    accepted, not just of itself.

    State layout (bucket-partitioned parquet, append-only — near-dup
    state never deletes): one row per accepted (band_index, band_key)
    with the owner's doc id and full MinHash signature, partitioned by
    ``bucket = pmod(hash(band_index, band_key), n_buckets)`` so a batch
    reads only the buckets its own band keys hash into.

    Per batch:

    1. MinHash signatures (one shuffle) + LSH band keys;
    2. batch-internal near-dup collapse: banded candidates, signature-
       estimated Jaccard (mean per-hash agreement — the standard
       streaming estimator; exact verification would need the stored
       docs' shingle sets), connected components, min id per cluster
       survives;
    3. cross-batch: join the survivors' band keys against the pruned
       state slice; a survivor whose estimated similarity to ANY stored
       owner ≥ threshold is dropped (unless it IS the owner — replay
       stays lossless);
    4. append the accepted docs' band rows to the touched buckets.

    Returns the accepted (id) frame. The estimator's granularity is
    1/num_hashes; raise num_hashes for finer thresholds.
    """

    def __init__(
        self,
        spark,
        state_root: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        num_hashes: int = 6,
        rows_per_band: int = 2,
        n: int = 3,
        threshold: float = 0.5,
        n_buckets: int = 64,
    ) -> None:
        import os

        self.spark = spark
        self.state_root = state_root
        self.text_col = text_col
        self.id_col = id_col
        self.num_hashes = num_hashes
        self.rows_per_band = rows_per_band
        self.n = n
        self.threshold = threshold
        self.n_buckets = n_buckets
        os.makedirs(state_root, exist_ok=True)

    def _sig_cols(self) -> list[str]:
        return [f"h{s}" for s in range(self.num_hashes)]

    def _bands(self, sig: DataFrame) -> DataFrame:
        band_keys = [
            F.concat_ws(
                "|",
                *[F.col(f"h{bi * self.rows_per_band + r}") for r in range(self.rows_per_band)],
            )
            for bi in range(self.num_hashes // self.rows_per_band)
        ]
        return sig.select(
            F.col(self.id_col),
            *self._sig_cols(),
            F.posexplode(F.array(*band_keys)).alias("band_index", "band_key"),
        ).withColumn(
            "bucket", F.pmod(F.hash("band_index", "band_key"), F.lit(self.n_buckets))
        )

    def _est(self, a_prefix: str, b_prefix: str):
        agree = sum(
            F.when(F.col(f"{a_prefix}{s}") == F.col(f"{b_prefix}{s}"), 1).otherwise(0)
            for s in range(self.num_hashes)
        )
        return agree / F.lit(float(self.num_hashes))

    def _read_state_buckets(self, buckets: list[int]) -> DataFrame:
        import os

        schema = ", ".join(
            ["band_index int", "band_key string", f"{self.id_col} long"]
            + [f"{c} string" for c in self._sig_cols()]
        )
        if not any(e.startswith("bucket=") for e in os.listdir(self.state_root)):
            return self.spark.createDataFrame([], schema + ", bucket int")
        return (
            self.spark.read.parquet(self.state_root)
            .filter(F.col("bucket").isin(buckets))
        )

    def process(self, batch_df: DataFrame) -> DataFrame:
        """Near-dedup one batch against itself and the store; persist
        accepted band rows; return the accepted id frame."""
        sig = minhash_signatures(
            batch_df, self.text_col, self.id_col, self.num_hashes, self.n
        ).localCheckpoint()

        # 2. batch-internal collapse (banded candidates → estimated
        # similarity edges → components → min-id survivor)
        cand = lsh_candidate_pairs(sig, self.id_col, self.num_hashes, self.rows_per_band)
        a = sig.select(F.col(self.id_col).alias("i"), *[F.col(c).alias(f"ai{c}") for c in self._sig_cols()])
        b = sig.select(F.col(self.id_col).alias("j"), *[F.col(c).alias(f"bj{c}") for c in self._sig_cols()])
        edges = (
            cand.join(a, "i")
            .join(b, "j")
            .withColumn("est", self._est("aih", "bjh"))
            .filter(F.col("est") >= self.threshold)
            .select("i", "j")
        )
        comp = connected_components(
            sig.select(F.col(self.id_col).alias("id")), edges, "id"
        )
        survivors = (
            comp.groupBy("component").agg(F.min("id").alias(self.id_col)).select(self.id_col)
        )
        surv_bands = self._bands(sig.join(survivors, self.id_col)).localCheckpoint()

        # 3. cross-batch: candidates from shared band keys in the pruned
        # state slice; estimated similarity vs each stored owner
        touched = [r["bucket"] for r in surv_bands.select("bucket").distinct().collect()]
        state = self._read_state_buckets(touched)
        owners = state.select(
            "band_index",
            "band_key",
            F.col(self.id_col).alias("__owner"),
            *[F.col(c).alias(f"o{c}") for c in self._sig_cols()],
        )
        matches = (
            surv_bands.join(owners, ["band_index", "band_key"])
            .withColumn("est", self._est("h", "oh"))
            .filter((F.col("est") >= self.threshold) & (F.col("__owner") != F.col(self.id_col)))
            .select(self.id_col)
            .distinct()
        )
        accepted = survivors.join(matches, self.id_col, "left_anti").localCheckpoint()

        # 4. append accepted band rows (dedup vs existing owners so a
        # replayed batch doesn't double-store its own rows)
        fresh_rows = (
            surv_bands.join(accepted, self.id_col)
            .join(
                state.select("band_index", "band_key", self.id_col),
                ["band_index", "band_key", self.id_col],
                "left_anti",
            )
            .select("band_index", "band_key", self.id_col, *self._sig_cols(), "bucket")
        )
        if not fresh_rows.isEmpty():
            fresh_rows.write.mode("append").partitionBy("bucket").parquet(self.state_root)
        return accepted


class IncrementalSimHashDeduper:
    """Cross-batch SimHash near-dup rejection against a persistent
    half-key signature store (ROADMAP round-3 item 5) — the hamming-
    distance twin of ``IncrementalNearDeduper``.

    State layout (bucket-partitioned parquet, append-only):
    ``max_hamming + 1`` rows per accepted doc, one per signature block
    ``(block_index, block_key, id, s)``, partitioned by ``bucket =
    pmod(hash(block_index, block_key), n_buckets)``. Splitting the
    signature into ``max_hamming + 1`` blocks is the pigeonhole design
    of Manku et al. (WWW'07 near-duplicate detection): two signatures
    within hamming ``h`` differ in at most ``h`` blocks, so with
    ``h + 1`` blocks at least one block matches EXACTLY — the block-key
    equi-join is a LOSSLESS candidate filter, not an approximation
    (unlike MinHash banding, which can miss pairs; a plain two-half
    join misses e.g. a 1+3 bit split at h=4).

    Per batch:

    1. one bigint SimHash signature per doc (one md5 per token);
    2. batch-internal collapse: block-key candidates →
       ``bit_count(xor) ≤ max_hamming`` edges → connected components →
       min-id survivor;
    3. cross-batch: survivors' block-keys join the pruned state slice;
       a survivor within max_hamming of ANY stored owner is dropped
       (unless it IS the owner — replayed batches stay lossless);
    4. append the accepted docs' block rows to the touched buckets.

    Returns the accepted (id) frame.
    """

    def __init__(
        self,
        spark,
        state_root: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        bits: int = 64,
        max_hamming: int = 4,
        n_buckets: int = 64,
    ) -> None:
        import os

        if max_hamming + 1 > bits:
            raise ValueError("need max_hamming + 1 blocks of >= 1 bit each")
        self.spark = spark
        self.state_root = state_root
        self.text_col = text_col
        self.id_col = id_col
        self.bits = bits
        self.max_hamming = max_hamming
        self.n_buckets = n_buckets
        os.makedirs(state_root, exist_ok=True)

    def _block_exprs(self) -> list:
        """One (s >> shift) & mask extractor per block; widths differ by
        at most one bit. shiftright sign-extends, but the mask strips
        the extension, so the top block is safe for negative s."""
        n_blocks = self.max_hamming + 1
        base, extra = divmod(self.bits, n_blocks)
        exprs, shift = [], 0
        for i in range(n_blocks):
            w = base + (1 if i < extra else 0)
            exprs.append(
                F.shiftright("s", shift).bitwiseAND(F.lit((1 << w) - 1))
            )
            shift += w
        return exprs

    def _blocks(self, sig: DataFrame) -> DataFrame:
        return sig.select(
            F.col(self.id_col),
            "s",
            F.posexplode(F.array(*self._block_exprs())).alias(
                "block_index", "block_key"
            ),
        ).withColumn(
            "bucket", F.pmod(F.hash("block_index", "block_key"), F.lit(self.n_buckets))
        )

    def _read_state_buckets(self, buckets: list[int]) -> DataFrame:
        import os

        schema = f"block_index int, block_key long, {self.id_col} long, s long"
        if not any(e.startswith("bucket=") for e in os.listdir(self.state_root)):
            return self.spark.createDataFrame([], schema + ", bucket int")
        return self.spark.read.parquet(self.state_root).filter(
            F.col("bucket").isin(buckets)
        )

    def process(self, batch_df: DataFrame) -> DataFrame:
        """Near-dedup one batch against itself and the store; persist
        accepted half rows; return the accepted id frame."""
        sig = simhash_longs(
            batch_df, self.text_col, self.id_col, self.bits
        ).localCheckpoint()
        blocks = self._blocks(sig).localCheckpoint()

        # 2. batch-internal collapse: block-key equi-join (lossless
        # candidates by pigeonhole), exact hamming on the 8-byte sigs
        a = blocks.select(
            F.col(self.id_col).alias("i"), F.col("s").alias("si"),
            "block_index", "block_key",
        )
        b = blocks.select(
            F.col(self.id_col).alias("j"), F.col("s").alias("sj"),
            "block_index", "block_key",
        )
        edges = (
            a.join(b, ["block_index", "block_key"])
            .filter(F.col("i") < F.col("j"))
            .filter(F.bit_count(F.col("si").bitwiseXOR(F.col("sj"))) <= self.max_hamming)
            .select("i", "j")
            .distinct()
        )
        comp = connected_components(
            sig.select(F.col(self.id_col).alias("id")), edges, "id"
        )
        survivors = (
            comp.groupBy("component").agg(F.min("id").alias(self.id_col)).select(self.id_col)
        )
        surv_blocks = blocks.join(survivors, self.id_col).localCheckpoint()

        # 3. cross-batch: block-key equi-join against the pruned slice,
        # exact hamming verification on the 8-byte signatures
        touched = [r["bucket"] for r in surv_blocks.select("bucket").distinct().collect()]
        state = self._read_state_buckets(touched)
        owners = state.select(
            "block_index",
            "block_key",
            F.col(self.id_col).alias("__owner"),
            F.col("s").alias("os"),
        )
        matches = (
            surv_blocks.join(owners, ["block_index", "block_key"])
            .filter(
                (F.bit_count(F.col("s").bitwiseXOR(F.col("os"))) <= self.max_hamming)
                & (F.col("__owner") != F.col(self.id_col))
            )
            .select(self.id_col)
            .distinct()
        )
        accepted = survivors.join(matches, self.id_col, "left_anti").localCheckpoint()

        # 4. append accepted block rows (anti-join so replays don't
        # double-store)
        fresh_rows = (
            surv_blocks.join(accepted, self.id_col)
            .join(
                state.select("block_index", "block_key", self.id_col),
                ["block_index", "block_key", self.id_col],
                "left_anti",
            )
            .select("block_index", "block_key", self.id_col, "s", "bucket")
        )
        if not fresh_rows.isEmpty():
            fresh_rows.write.mode("append").partitionBy("bucket").parquet(self.state_root)
        return accepted


def duplicate_substring_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """ExactSubstr-style duplicate-span detection: maximal token spans
    covered by k-token windows that occur MORE THAN ONCE corpus-wide,
    keeping the first occurrence (min (doc, pos)) as canonical — the
    "deduplicating training data" exact-substring method, re-expressed
    as three relational stages:

    1. every k-token window with its position (posexplode — NOT
       distinct: each occurrence matters), keyed by the 64-bit hash of
       its k tokens (same string-free trick as ``shingle_keys``);
    2. per window-group: occurrence count + first-occurrence rank
       (two window functions over ONE hash exchange);
    3. non-canonical occurrences of repeated windows become intervals
       [pos, pos+k-1], merged into maximal spans per doc by the
       gaps-and-islands pattern (running max of interval end), then
       aggregated — the (doc) exchange serves both the island windows
       and the final (doc, island) groupBy.

    Returns (doc_id, span_start, span_end, span_tokens), the regions a
    cleaner would cut. Scale: O(total tokens) rows through two hash
    exchanges; a corpus-wide boilerplate window makes ONE large group
    but never a join fanout (count/rank are aggregations, not
    self-joins), so there is no quadratic cliff to cap here — the
    property that makes this form preferable at 100 TB to the naive
    "join windows on equality" plan.
    """
    toks_expr = f"split(trim({text_col}), '\\\\s+')"
    win_hash = ", ".join(f"element_at(__toks, i + {j + 1})" for j in range(k))
    wins_arr = (
        f"IF(size(__toks) >= {k}, "
        f"transform(sequence(0, size(__toks) - {k}), i -> xxhash64({win_hash})), "
        f"array())"
    )
    n_parts = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    wins = (
        df.repartition(n_parts)
        .select(F.col(id_col), F.expr(toks_expr).alias("__toks"))
        .select(F.col(id_col), F.posexplode(F.expr(wins_arr)).alias("pos", "wh"))
    )
    from pyspark.sql import Window as W

    g = W.partitionBy("wh")
    marked = wins.select(
        id_col,
        "pos",
        F.count(F.lit(1)).over(g).alias("df"),
        F.row_number().over(g.orderBy(id_col, "pos")).alias("rn"),
    )
    dupw = marked.filter((F.col("df") > 1) & (F.col("rn") > 1)).select(
        id_col, F.col("pos").cast("long").alias("pos"), (F.col("pos") + k - 1).cast("long").alias("fin")
    )
    by_doc = W.partitionBy(id_col).orderBy("pos")
    isl = dupw.withColumn(
        "prev_end", F.max("fin").over(by_doc.rowsBetween(W.unboundedPreceding, -1))
    )
    grp = isl.withColumn(
        "g",
        F.sum(
            F.when(F.col("prev_end").isNull() | (F.col("pos") > F.col("prev_end")), 1).otherwise(0)
        ).over(by_doc),
    )
    return (
        grp.groupBy(id_col, "g")
        .agg(
            F.min("pos").alias("span_start"),
            F.max("fin").alias("span_end"),
            (F.max("fin") - F.min("pos") + 1).alias("span_tokens"),
        )
        .drop("g")
    )
