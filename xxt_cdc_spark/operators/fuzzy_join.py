"""Fuzzy (edit-distance) join: all pairs within Levenshtein distance
``max_dist``, via LOSSLESS segment blocking (the PassJoin scheme: Li,
Deng & Feng's partition-based string join) — the entity-resolution /
fuzzy-dedup primitive.

Naive form is a cross join with a levenshtein() predicate — O(n·m)
string comparisons, the same 100 TB cliff the binned range join
removes for intervals. Blocking argument (pigeonhole): split the right
string into ``d+1`` contiguous segments; an edit script of cost ≤ d
cannot touch all of them, so some segment survives VERBATIM in the
left string, shifted by at most d positions (the net length drift of
the edits before it). Therefore:

1. **right probes**: each right string emits its d+1 (segment-id,
   substring) keys — one row per segment;
2. **left probes**: each left string emits, for every admissible right
   LENGTH L in [len−d, len+d] and every segment id, the substrings at
   the admissible positions. Position-aware selection (PassJoin's
   substring-selection bound) prunes the naive (2d+1)²(d+1) ≈ 75
   probe set to 29 at d = 2: writing Δ = len(l) − L for the length
   drift and δ for the segment's shift, a match in which segment k is
   the FIRST surviving segment obeys |δ| + |Δ−δ| ≤ d (the edits before
   the segment number at least |δ|, those after at least |Δ−δ|) and
   |Δ−δ| ≤ d−k (each of the k earlier segments was touched by at
   least one edit — were one untouched, IT would be the first
   survivor). Restricting each k's probes to that δ-range stays
   lossless because every true pair has SOME first surviving segment.
   Computed as one generated array + explode, no shuffle amplification
   beyond the constant;
3. **candidates**: an exact equi-join on (L, segment-id, substring) —
   segment keys are ~len/(d+1) characters, long enough to be
   near-unique even on LOW-ENTROPY composite records (brand/type/size
   fields shared by thousands of rows), which is precisely where
   q-gram count filters collapse: measured on 20k composite part
   records (sf0.1), gram-count blocking left 16M candidates (245 s
   end-to-end); segment blocking runs the same exact join in 10 s;
4. **verification**: the exact ``levenshtein()`` built-in (JVM-side)
   on distinct candidate pairs only.

Right strings shorter than ``d+1`` can't yield non-empty segments, so
pairs whose right side is shorter than ``_MIN_SEG_LEN`` route through
a separate length-banded all-pairs branch — bounded by the
short-string population and disjoint from the segment branch (split on
the right length alone). Correctness therefore never depends on data
length; only the PRUNING quality does.

Scale: probe generation is a scan-shaped projection (constant fan-out
per row); the candidate join shuffles on near-unique segment keys; the
verify stage is candidate-sized, never pair-space-sized.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# right strings at least this long go through segment blocking; below
# it (where segments degenerate toward single characters and prune
# nothing) the all-pairs short branch is both exact and cheap
_MIN_SEG_LEN = 8


def _seg_bounds(L: Column, k: int, parts: int) -> tuple[Column, Column]:
    """1-based (start, length) of segment ``k`` of ``parts`` for a
    string of length ``L`` — the even partition floor(k·L/parts)."""
    start = F.floor(L * k / parts).cast("int") + 1
    end = F.floor(L * (k + 1) / parts).cast("int")
    return start, (end - start + 1)


def _right_probes(r_names: DataFrame, d: int) -> DataFrame:
    """Right probes: the d+1 segments of each (long-enough) string.
    Factored to module level so a stage profile measures the SAME
    builders the operator runs (r12 ADVICE: a hand-copied probe shape
    in the profiler silently goes stale; SCALING.md "Round-12:
    fuzzy_join_part_names decomposed")."""
    parts = d + 1
    rlen = F.length("r_str")
    r_segs = []
    for k in range(parts):
        st, ln = _seg_bounds(rlen, k, parts)
        r_segs.append(
            F.struct(F.lit(k).alias("k"), F.substring(F.col("r_str"), st, ln).alias("seg"))
        )
    return (
        r_names.filter(rlen >= _MIN_SEG_LEN)
        .select("r_key", "r_str", rlen.alias("L"), F.explode(F.array(*r_segs)).alias("s"))
        .select("r_key", "r_str", "L", F.col("s.k").alias("k"), F.col("s.seg").alias("seg"))
    )


def _probe_spec(l_names: DataFrame, d: int) -> DataFrame:
    """The admissible (L, k, position, seg-length) probe tuples per
    DISTINCT left length. The tuples depend ONLY on length(l_str), so
    the spec is enumerated once per distinct length (a higher-order
    transform-over-sequence — interpreted, but over dozens of rows
    instead of the corpus) and broadcast-joined back on the length;
    the per-row substring then runs inside whole-stage codegen.
    Evaluating the same lambda per corpus row was the operator's
    bottleneck once the join was inlined (~4 s of 6 at sf0.1: 75
    interpreted elements × every row).

    Position-aware probe selection (PassJoin's substring-selection
    bound, derived in the module docstring): with Δ = l_len − L = −dL
    and shift δ = dp, a real match with segment k as the FIRST
    surviving segment satisfies
      |δ| + |Δ − δ| ≤ d       (edits before ≥ |δ|, after ≥ |Δ − δ|)
      |Δ − δ| ≤ d − k        (each of the k earlier segments eats ≥1 edit)
    which cuts the admissible probe count from (2d+1)²(d+1) = 75 to
    29 at d = 2 with an unchanged (brute-force-equal) result."""
    parts = d + 1
    n_p = 2 * d + 1
    tot = n_p * parts * n_p
    _dL = f"((i DIV {parts * n_p}) - {d})"
    _k = f"((i DIV {n_p}) % {parts})"
    _dp = f"((i % {n_p}) - {d})"
    _L = f"(n + {_dL})"
    _st = f"(CAST(FLOOR({_L} * {_k} / {parts}) AS INT) + 1)"
    _en = f"CAST(FLOOR({_L} * ({_k} + 1) / {parts}) AS INT)"
    _ln = f"({_en} - {_st} + 1)"
    _pp = f"({_st} + {_dp})"
    _pos_ok = (
        f"(abs({_dp}) + abs({_dL} + {_dp}) <= {d} "
        f"AND abs({_dL} + {_dp}) <= {d} - {_k})"
    )
    _valid = (
        f"({_L} >= {_MIN_SEG_LEN} AND {_pos_ok} "
        f"AND {_pp} >= 1 AND {_pp} + {_ln} - 1 <= n)"
    )
    spec_expr = (
        f"filter(transform(sequence(0, {tot - 1}), i -> "
        f"CASE WHEN {_valid} THEN named_struct("
        f"'L', CAST({_L} AS INT), 'k', CAST({_k} AS INT), "
        f"'pp', CAST({_pp} AS INT), 'ln', CAST({_ln} AS INT)) "
        f"ELSE NULL END), x -> x IS NOT NULL)"
    )
    return (
        l_names.select(F.length("l_str").alias("n"))
        .distinct()
        .select("n", F.explode(F.expr(spec_expr)).alias("s"))
        .select(
            "n", F.col("s.L").alias("L"), F.col("s.k").alias("k"),
            F.col("s.pp").alias("pp"), F.col("s.ln").alias("ln"),
        )
    )


def _left_probes(l_names: DataFrame, d: int) -> DataFrame:
    """Left probes: substrings at the admissible positions, via the
    broadcast probe spec (see _probe_spec)."""
    return (
        l_names.withColumn("n", F.length("l_str"))
        .join(F.broadcast(_probe_spec(l_names, d)), "n")
        .select(
            "l_key", "l_str", "L", "k",
            F.expr("substring(l_str, pp, ln)").alias("seg"),
        )
    )


def _verify_long(lg: DataFrame, rg: DataFrame, d: int, distinct: bool = True) -> DataFrame:
    """Candidate equi-join + inline banded-levenshtein verify.

    Verify INLINE on the probe join — strings ride along, so the
    threshold-bounded levenshtein (O(d·n) banded DP, -1 above the
    bound) runs in the same stage as the equi-join and only the
    verified pairs (tiny) reach the dedup shuffle. The previous shape
    (distinct the candidate PAIR LIST, then two join-backs to refetch
    the strings) shuffled the candidate set three times — and on
    low-entropy composite records candidates run ~200× the true
    pairs (measured 1.76M candidates → 8.4k pairs at sf0.1), so the
    candidate-sized shuffles dominated the operator. A pair matching
    on several segments pays levenshtein once per matching segment
    (≤ d+1, deterministic result); distinct collapses it after the
    filter, where rows are few."""
    out = (
        lg.join(rg, ["L", "k", "seg"])
        .withColumn("dist", F.levenshtein("l_str", "r_str", d))
        .filter(F.col("dist") >= 0)
        .select("l_key", "r_key", "dist")
    )
    return out.distinct() if distinct else out


def _short_branch(l_names: DataFrame, r_names: DataFrame, d: int) -> DataFrame:
    """Short branch: right strings below the segment threshold —
    bounded crossJoin, length-banded before the levenshtein call."""
    return (
        l_names.filter(F.length("l_str") <= _MIN_SEG_LEN - 1 + d)
        .crossJoin(r_names.filter(F.length("r_str") < _MIN_SEG_LEN))
        # length band: one comparison here beats a levenshtein call
        # for every impossible short-short pair
        .filter(F.abs(F.length("l_str") - F.length("r_str")) <= d)
        .withColumn("dist", F.levenshtein("l_str", "r_str", d))
        .filter(F.col("dist") >= 0)
        .select("l_key", "r_key", "dist")
    )


def edit_distance_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_str: str,
    right_str: str,
    max_dist: int,
) -> DataFrame:
    """Pairs ``(l_key, r_key, dist)`` with
    ``levenshtein(left_str, right_str) = dist ≤ max_dist``.

    Exact: blocking is lossless (see module docstring), verification is
    the built-in levenshtein. Keys must be unique per side.
    """
    d = max_dist
    l_names = left.select(F.col(left_key).alias("l_key"), F.col(left_str).alias("l_str"))
    r_names = right.select(F.col(right_key).alias("r_key"), F.col(right_str).alias("r_str"))

    rg = _right_probes(r_names, d)
    lg = _left_probes(l_names, d)
    ver_long = _verify_long(lg, rg, d)
    ver_short = _short_branch(l_names, r_names, d)
    # branches are disjoint (split on the right length alone) and the
    # short branch emits each pair exactly once — no cross-branch dedup
    return ver_long.unionByName(ver_short)
