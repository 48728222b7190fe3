"""Mergeable sketches, cross-engine exact: HLL (distinct counts),
count-min (frequencies), HDR log2-bucket histograms (quantiles), and
Bloom filters (set membership).  All four share the same design rule —
deterministic md5/integer arithmetic only, so the DuckDB oracle gate
replicates not just row counts but every register, counter, bucket,
and bit position.

Exact `count(DISTINCT x)` per bucket does not compose across retention
tiers: daily distincts cannot be derived from hourly distinct COUNTS,
so every re-aggregation re-scans raw data — untenable at 10^12 turns.
HLL registers DO compose (union = element-wise max), which is how a
tiered engine serves "distinct conversations per hour/day/month" from
the same continuous-aggregate cascade as sums and maxes
(`rollup.rollup_tier`): sketch once at the finest tier, merge upward.

Unlike `approx_count_distinct` (whose HLL++ internals are opaque and
engine-specific), this implementation is DETERMINISTIC and replicable
bit-for-bit in ANSI SQL, so the DuckDB oracle gate can verify the
estimates exactly:

- hash: top 60 bits of md5 (same string bytes → same integer in any
  engine); top b=10 bits pick the register, the remaining 50 bits give
  rho = (#leading zeros) + 1 via string-length-of-bin (minimal binary
  representation in both Spark and DuckDB).
- registers live in LONG format (group keys, reg, rho) — plain
  groupBy/max built-ins, no arrays, no UDFs; absent registers mean
  rho=0 and are reconstructed arithmetically at estimate time.
- the harmonic sum is computed as INTEGER Σ 2^(51-rho) (≤ 2^61, exact
  BIGINT in both engines), so both engines divide identical numbers;
  the only libm call (ln in the small-range linear-counting branch)
  operates on identical doubles and is rounded to 6dp.

Standard-error ~ 1.04/sqrt(m) ≈ 3.25% at m=1024 registers; raise b
for tighter bounds (b ≤ 20 keeps the integer sum < 2^63: worst case
m·2^(61-b) = 2^61 at any b).

Scale notes (100 TB): the sketch is one hash-aggregation producing at
most m rows per group (map-side partial max on (keys, reg) — shuffle
volume is |groups|·m regardless of input rows); tier merges shuffle
only register rows.  At b=10 a group's sketch is ≤ 1024 (reg, rho)
pairs ≈ 10 KB — millions of groups fit one executor.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from timeseriescorrelation_spark.functions.exact import snap

_HASH_BITS = 60  # top 15 hex chars of md5 — positive in int64


def _alpha(m: int) -> float:
    if m >= 128:
        return 0.7213 / (1 + 1.079 / m)
    return {16: 0.673, 32: 0.697, 64: 0.709}[m]


def hll_sketch(df: DataFrame, keys: list[str], item_col: str,
               b: int = 10) -> DataFrame:
    """Long-format HLL registers: (keys..., reg, rho = max over items).

    Items hash through md5 (portable across engines); rho is the
    1-indexed position of the first set bit in the low (60-b)-bit
    word, i.e. (60-b) - length(bin(w)) + 1, with the all-zeros word
    mapping to (60-b)+1.
    """
    wbits = _HASH_BITS - b
    h = F.conv(
        F.substring(F.md5(F.col(item_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    w = h.bitwiseAND(F.lit((1 << wbits) - 1))
    rho = F.when(w == 0, F.lit(wbits + 1)).otherwise(
        F.lit(wbits + 1) - F.length(F.bin(w))
    )
    return (
        df.select(
            *keys,
            F.shiftright(h, wbits).alias("reg"),
            rho.alias("rho"),
        )
        .groupBy(*keys, "reg")
        .agg(F.max("rho").alias("rho"))
    )


def hll_merge(regs: DataFrame, keys: list[str]) -> DataFrame:
    """Union sketches to a coarser grouping: element-wise register max.

    `keys` is the coarser key set (e.g. drop the hour column to merge
    hourly sketches into daily ones).
    """
    return regs.groupBy(*keys, "reg").agg(F.max("rho").alias("rho"))


def hll_estimate(regs: DataFrame, keys: list[str],
                 b: int = 10) -> DataFrame:
    """Cardinality estimate per key group from long-format registers.

    Output: (keys..., hll_est).  Integer harmonic sum
    S = Σ_present 2^(51-rho) + (m - n_present)·2^51, then
    E = α·m²·2^51 / S with the standard small-range correction
    (E ≤ 2.5m and empty registers present → linear counting
    m·ln(m/V)).  All branch decisions happen on bit-identical
    numbers; only the final ln differs by ≤1 ulp across libms,
    absorbed by the 6dp rounding.
    """
    m = 1 << b
    wbits = _HASH_BITS - b
    top = wbits + 1  # max rho; 2^(top-rho) ≥ 1
    s_present = F.sum(
        F.expr(f"shiftleft(CAST(1 AS BIGINT), {top} - rho)")
    ).cast("long")
    n_present = F.count("*")
    agg = regs.groupBy(*keys).agg(
        s_present.alias("_s"), n_present.alias("_n")
    )
    s_tot = (
        F.col("_s")
        + (F.lit(m).cast("long") - F.col("_n")) * F.lit(1 << top).cast("long")
    ).cast("double")
    v = F.lit(m).cast("long") - F.col("_n")  # empty registers
    e_raw = (
        F.lit(_alpha(m)) * F.lit(float(m * m)) * F.lit(float(1 << top))
        / s_tot
    )
    est = F.when(
        (e_raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double")),
    ).otherwise(e_raw)
    return agg.select(*keys, F.round(est, 6).alias("hll_est"))


def _cms_bucket(item: Column, j: int, w: int) -> Column:
    """Row-j counter index: an independent 32-bit slice of md5(item)
    mod w.  md5's 32 hex chars give four independent 8-char slices —
    enough for d ≤ 4 rows — and the same expression is writable
    verbatim in DuckDB, so the oracle replicates every counter."""
    return (
        F.conv(F.substring(F.md5(item.cast("string")), 1 + j * 8, 8), 16, 10)
        .cast("long") % F.lit(w)
    )


def cms_sketch(df: DataFrame, d: int = 3, w: int = 4096) -> DataFrame:
    """Count-min sketch of the `tok` column: (j, bucket, cnt) — d·w
    counters total.

    The exact heavy-hitter count (`token_topk`) shuffles one row per
    DISTINCT token; at 100 TB the long tail makes that shuffle huge.
    The CMS shuffles at most d·w rows no matter the vocabulary
    (map-side partial sums), and over-counts by at most ε·N with
    probability 1-δ (ε = e/w, δ = e^-d): estimates are always ≥ the
    true count, never below — safe for threshold cuts.

    Deterministic (md5 slices, integer sums) and replicable in ANSI
    SQL, unlike hashing-seeded sketch libraries.  d ≤ 4 (md5 slice
    budget); raise w for tighter ε.
    """
    if not 1 <= d <= 4:
        raise ValueError("cms_sketch: d must be in 1..4 (md5 slices)")
    rows = F.explode(
        F.array(*[
            F.struct(
                F.lit(j).alias("j"),
                _cms_bucket(F.col("tok"), j, w).alias("bucket"),
            )
            for j in range(d)
        ])
    )
    return (
        df.select(rows.alias("r"))
        .select("r.j", "r.bucket")
        .groupBy("j", "bucket")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def hdr_sketch(df: DataFrame, keys: list[str], sub_bits: int = 5,
               decimals: int = 2) -> DataFrame:
    """Mergeable log2-bucket quantile sketch (HDR-histogram layout):
    (keys..., idx, cnt).

    Completes the tier-mergeable sketch family: HLL composes distinct
    counts, CMS composes frequencies, this composes QUANTILES — exact
    per-bucket percentiles cannot be re-derived from coarser-tier
    percentiles, so a 100 TB engine sketches once at the finest tier
    and merges upward (merge = bucket-wise count sum).

    Bucketing is pure integer arithmetic, so the DuckDB oracle
    replicates every bucket index and every estimate bit-for-bit
    (unlike t-digest/DDSketch libraries whose centroids/gamma-log
    mapping are float-seeded and engine-opaque):

    - values snap to v = max(round(value·10^decimals), 1) BIGINT
      (same cents-snap as `timeweight.time_weighted_avg`);
    - e = floor(log2 v) comes from length(bin(v)) - 1 — string length
      of the minimal binary form, identical in Spark and DuckDB;
    - idx = v when e ≤ s (unit-width buckets for small values), else
      (e-s)·2^s + (v >> (e-s)): 2^s sub-buckets per octave, giving a
      relative-error bound of 2^-(s+1) at the bucket midpoint
      (~1.6% at s=5).

    Scale notes (100 TB): one hash-aggregation, map-side partial sums;
    shuffle volume ≤ |groups|·n_buckets rows where n_buckets ≤
    (63-s)·2^s + 2^(s+1) (~1.9k at s=5) REGARDLESS of input rows —
    the same bounded-shuffle shape as `hll_sketch`."""
    s = sub_bits
    v = F.greatest(
        snap(F.col("value"), decimals), F.lit(1).cast("long")
    )
    base = df.select(*keys, v.alias("_v")).withColumn(
        "_e", (F.length(F.bin(F.col("_v"))) - 1).cast("long")
    )
    idx = F.when(F.col("_e") <= s, F.col("_v")).otherwise(
        (F.col("_e") - s) * F.lit(1 << s).cast("long")
        + F.expr(f"shiftright(_v, cast(_e as int) - {s})")
    )
    return (
        base.select(*keys, idx.alias("idx"))
        .groupBy(*keys, "idx")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def hdr_merge(sk: DataFrame, keys: list[str]) -> DataFrame:
    """Union sketches to a coarser grouping: bucket-wise count sum
    (e.g. drop the hour column to merge hourly sketches into daily)."""
    return sk.groupBy(*keys, "idx").agg(F.sum("cnt").alias("cnt"))


def hdr_quantiles(sk: DataFrame, keys: list[str],
                  qs: list[tuple[str, int, int]] | None = None,
                  sub_bits: int = 5, decimals: int = 2) -> DataFrame:
    """Nearest-rank quantile estimates from a (keys..., idx, cnt)
    sketch: (keys..., q_name, n, est).

    Quantiles are given as exact rationals (name, num, den) — the rank
    r = ceil(num·n/den) is computed with INTEGER arithmetic
    ((num·n + den - 1) div den), so no float q·n ulp can flip the
    chosen bucket between engines (Spark parses 0.95 as double, DuckDB
    as DECIMAL — a literal-typing trap this avoids entirely).  The
    estimate is the containing bucket's midpoint mapped back to value
    units; all arithmetic up to the final /10^decimals is integer."""
    if qs is None:
        qs = [("p50", 1, 2), ("p95", 19, 20), ("p99", 99, 100)]
    s = sub_bits
    scale = 10 ** decimals
    wcum = (
        Window.partitionBy(*keys).orderBy("idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy(*keys)
    cum = sk.select(
        *keys, "idx", "cnt",
        F.sum("cnt").over(wcum).alias("_cum"),
        F.sum("cnt").over(wall).alias("n"),
    )
    qrows = F.explode(F.array(*[
        F.struct(
            F.lit(name).alias("q_name"),
            F.lit(num).cast("long").alias("_num"),
            F.lit(den).cast("long").alias("_den"),
        )
        for name, num, den in qs
    ])).alias("q")
    probed = cum.select("*", qrows).select("*", "q.*").drop("q")
    r = F.expr("(_num * n + _den - 1) div _den")
    hit = probed.where(
        (F.col("_cum") >= r) & (F.col("_cum") - F.col("cnt") < r)
    )
    # midpoint representative: unit buckets below 2^(s+1), else the
    # [sub<<k, (sub+1)<<k) range's midpoint, k = octave shift — all
    # integer-derived, so the doubles match across engines
    lo = F.expr(
        f"shiftleft(idx - (shiftright(idx, {s}) - 1) * {1 << s}, "
        f"cast(shiftright(idx, {s}) - 1 as int))"
    )
    width = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), "
        f"cast(shiftright(idx, {s}) - 1 as int))"
    )
    rep = F.when(
        F.col("idx") < F.lit(1 << (s + 1)), F.col("idx").cast("double")
    ).otherwise(
        lo.cast("double") + (width.cast("double") - 1.0) / 2.0
    )
    return hit.select(
        *keys, "q_name", "n",
        F.round(rep / F.lit(float(scale)), 6).alias("est"),
    )


def bloom_build(df: DataFrame, item_col: str, m: int = 65536,
                k: int = 3) -> DataFrame:
    """Deterministic Bloom filter as a DataFrame of set bit positions.

    The broadcast-set decontamination path (`dedup.decontaminate`)
    ships every benchmark shingle STRING to every executor; at 100 TB
    the eval suite's shingle set can be tens of GB.  A Bloom filter is
    the constant-size form: m bits regardless of set size, no false
    negatives (nothing contaminated slips through), false-positive
    rate ~(1 - e^{-kn/m})^k — over-scrubbing only, which is the safe
    direction for decontamination.

    Hashing reuses the md5-slice scheme of `cms_sketch` (k ≤ 4
    independent 32-bit slices mod m), so the DuckDB oracle replicates
    every bit position.  Output: distinct `pos` rows — at m=2^16 at
    most 65536 rows (~0.5 MB), broadcast-join territory forever."""
    if not 1 <= k <= 4:
        raise ValueError("bloom_build: k must be in 1..4 (md5 slices)")
    rows = F.explode(F.array(*[
        _cms_bucket(F.col(item_col), j, m) for j in range(k)
    ]))
    return df.select(rows.alias("pos")).distinct()


def bloom_probe(items: DataFrame, bloom: DataFrame, item_col: str,
                m: int = 65536, k: int = 3) -> DataFrame:
    """Append `maybe_member` to `items`: true iff ALL k positions the
    item hashes to are set (classic Bloom membership — guaranteed true
    for every inserted item, possibly true for others).  The bloom
    side is ≤ m rows and broadcast; items never shuffle beyond the
    final per-item regroup."""
    probes = items.select(
        "*",
        F.explode(F.array(*[
            _cms_bucket(F.col(item_col), j, m) for j in range(k)
        ])).alias("pos"),
    )
    hit = probes.join(
        F.broadcast(bloom.withColumn("_set", F.lit(1))), ["pos"], "left"
    )
    out_cols = list(items.columns)
    return hit.groupBy(*out_cols).agg(
        (F.min(F.coalesce(F.col("_set"), F.lit(0))) == 1).alias(
            "maybe_member"
        )
    )


def cms_lookup(sketch: DataFrame, items: DataFrame, d: int = 3,
               w: int = 4096) -> DataFrame:
    """Append `cms_est` to `items`: min over the d counters its `tok`
    hashes to.  The sketch side is d·w rows — broadcast it; absent
    buckets mean a count of 0."""
    probes = items.select(
        "*",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("j"),
                    _cms_bucket(F.col("tok"), j, w).alias("bucket"),
                )
                for j in range(d)
            ])
        ).alias("r"),
    ).select("*", "r.j", "r.bucket").drop("r")
    joined = probes.join(F.broadcast(sketch), ["j", "bucket"], "left")
    out_cols = [c for c in items.columns]
    return (
        joined.groupBy(*out_cols)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_est"))
    )


def hll_overlap(df: DataFrame, b: int = 10) -> DataFrame:
    """(seg_a, seg_b, est_a, est_b, est_union, overlap_est): distinct-
    `item` overlap between every `seg` pair by inclusion-exclusion on
    MERGED HLL sketches — the audience-overlap question ("how many
    users do metrics A and B share?") answered from the same mergeable
    registers the retention cascade already maintains, never by a
    distinct-pair join over raw data.

    |A∩B| ≈ |A| + |B| − |A∪B|, where the union sketch is the
    element-wise register max (hll_merge over the pair) — the one set
    operation HLL supports exactly.  Clamped at 0 (inclusion-exclusion
    on estimates can go slightly negative for near-disjoint sets);
    error compounds to ~3× a single sketch's rel-err, which is the
    documented price of intersection-via-HLL (use exact distinct joins
    when segments are small enough to afford them).

    Scale notes (100 TB): raw data is touched ONCE (the register
    sketch, map-side combined to ≤2^b rows per segment); the pair
    stage manipulates only registers — |segs|²/2 · 2^b rows — so
    segment count, not data volume, bounds it.  The segs×segs theta
    join is a broadcast of the tiny distinct-segment list."""
    regs = hll_sketch(
        df.select("seg", F.col("item").alias("it")),
        ["seg"], "it", b,
    )
    singles = hll_estimate(regs, ["seg"], b)
    segs = regs.select("seg").distinct()
    pairs = (
        segs.alias("a")
        .join(F.broadcast(segs.alias("b")),
              F.col("a.seg") < F.col("b.seg"))
        .select(
            F.col("a.seg").alias("seg_a"), F.col("b.seg").alias("seg_b")
        )
    )
    ra = pairs.join(regs.withColumnRenamed("seg", "seg_a"), "seg_a")
    rb = pairs.join(regs.withColumnRenamed("seg", "seg_b"), "seg_b")
    uregs = (
        ra.select("seg_a", "seg_b", "reg", "rho")
        .unionByName(rb.select("seg_a", "seg_b", "reg", "rho"))
        .groupBy("seg_a", "seg_b", "reg")
        .agg(F.max("rho").alias("rho"))
    )
    estu = hll_estimate(uregs, ["seg_a", "seg_b"], b).withColumnRenamed(
        "hll_est", "est_union"
    )
    ea = singles.select(
        F.col("seg").alias("seg_a"), F.col("hll_est").alias("est_a")
    )
    eb = singles.select(
        F.col("seg").alias("seg_b"), F.col("hll_est").alias("est_b")
    )
    return (
        estu.join(F.broadcast(ea), "seg_a")
        .join(F.broadcast(eb), "seg_b")
        .select(
            "seg_a", "seg_b", "est_a", "est_b", "est_union",
            F.round(
                F.greatest(
                    F.lit(0.0),
                    F.col("est_a") + F.col("est_b") - F.col("est_union"),
                ),
                6,
            ).alias("overlap_est"),
        )
    )


def hll_rolling(regs: DataFrame, keys: list[str],
                window_days: int = 7) -> DataFrame:
    """Trailing-W-day merged registers per (keys..., bucket_ts): sliding-
    window distinct counts from the SAME mergeable registers the daily
    tier already maintains ("distinct users in the last 7 days", the
    canonical DAU/WAU shape) — never a distinct scan over W days of
    raw rows.

    No range window and no per-day gap problem: each day's register
    rows are EXPLODED to the W trailing-window end days they
    contribute to (day .. day+W−1) and max-merged there, so a day
    where a register was never hit simply contributes nothing (the
    rolling-window-max formulation would need a densified day grid to
    get that right).  Emitted days are semi-joined to days actually
    present in `regs`, so trailing windows never invent empty days.

    Scale notes (100 TB): shuffle = W × register rows keyed (keys,
    day, reg) — register volume is |groups|·m regardless of raw rows
    (the sketch invariant), so the whole rolling merge is
    W·|groups|·m slim integer rows, one hash-agg."""
    w = int(window_days)
    step = F.expr("interval 1 day")
    target = regs.select(
        *keys, "reg", "rho",
        F.explode(
            F.sequence(
                F.col("bucket_ts"),
                F.col("bucket_ts") + F.expr(f"interval {w - 1} days"),
                step,
            )
        ).alias("_wday"),
    )
    merged = target.groupBy(*keys, "_wday", "reg").agg(
        F.max("rho").alias("rho")
    )
    days = regs.select(*keys, F.col("bucket_ts").alias("_wday")).distinct()
    return (
        merged.join(days, [*keys, "_wday"], "left_semi")
        .withColumnRenamed("_wday", "bucket_ts")
    )


def heavy_hitters_mg(events: DataFrame, keys: list[str], item_col: str,
                     k: int = 8, tie_col: str | None = None) -> DataFrame:
    """Misra-Gries heavy hitters per key group with k counters of
    state — (keys..., item, mg_count, n_seen).  The bounded-memory
    answer to "top items over an unbounded stream": any item with true
    frequency > n/(k+1) is GUARANTEED present, and
    true_count − n/(k+1) ≤ mg_count ≤ true_count.

    The summary depends on PROCESSING ORDER, so the order is part of
    the contract: (ts, tie_col) ascending.  The streaming twin
    (streaming/topk_stream.py) carries the counter map across
    micro-batches and replays the identical sequence — asserted
    bit-equal in tests/test_topk_stream.py.  For order-independent
    exact answers use token_topk (full groupBy) or cms_tokens; this
    operator exists for the O(k)-state streaming regime.

    Scale notes: one shuffle to the key groups, one in-group sort,
    a pure-python dict loop per group via applyInPandas — the loop is
    O(items) with O(k) state, the Spark contract (schema, ordering,
    grouping) is what a 1000-executor run shards on."""
    import pandas as pd

    kk = int(k)
    out_fields = ", ".join(f"{c} string" for c in keys)
    schema = f"{out_fields}, item string, mg_count long, n_seen long"
    sort_cols = ["ts"] + ([tie_col] if tie_col else [])

    def _mg(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(sort_cols, kind="mergesort")
        counters: dict[str, int] = {}
        n = 0
        for it in pdf[item_col].astype(str):
            n += 1
            if it in counters:
                counters[it] += 1
            elif len(counters) < kk:
                counters[it] = 1
            else:
                dead = [key for key, c in counters.items() if c == 1]
                for key in counters:
                    counters[key] -= 1
                for key in dead:
                    del counters[key]
        head = pdf.iloc[0]
        rows = [
            {**{c: head[c] for c in keys},
             "item": it, "mg_count": c, "n_seen": n}
            for it, c in counters.items()
        ]
        return pd.DataFrame(
            rows,
            columns=[*keys, "item", "mg_count", "n_seen"],
        )

    return events.select(
        *keys, item_col, *sort_cols
    ).groupBy(*keys).applyInPandas(_mg, schema)


def bitmap_day_words(events: DataFrame) -> DataFrame:
    """Per-day activity bitmaps, roaring-style: actor ids pack into
    32-bit words (word index = id DIV 32, bit = id % 32) so one int64
    row answers membership for 32 actors.  32-bit, not 64: a set bit
    63 is UB territory across engines (DuckDB refuses 1<<63), while
    ≤ 2³¹ keeps every word positive and bit-identical everywhere.

        (day_ts, bkt, w)

    Scale notes (100 TB): the words table is |days|·|active-words|
    rows — a ~32× compression of the distinct (day, actor) set, and
    every downstream set operation (AND/OR/ANDNOT + popcount) is a
    word-level equi-join on (bkt), never a row-per-actor join.  This
    is the bitmap-index trick OLAP engines use for segment overlap."""
    act = events.select(
        F.date_trunc("day", F.col("ts")).alias("day_ts"),
        (F.col("user_id").cast("long") / 32).cast("long").alias("bkt"),
        F.pmod(F.col("user_id").cast("long"), F.lit(32)).cast("int")
         .alias("bit"),
    ).distinct()
    return act.groupBy("day_ts", "bkt").agg(
        F.expr(
            "bit_or(shiftleft(CAST(1 AS BIGINT), bit))"
        ).alias("w")
    )


def bitmap_retention(events: DataFrame) -> DataFrame:
    """Day-over-day actor retention computed ENTIRELY on bitmap words:

        (day_ts, active, active_prev, retained, new_actors, churned,
         retention_rate)

    retained = Σ popcount(w_today AND w_yesterday) — the intersection
    never materializes actor rows; new/churned are popcounts of the
    ANDNOT sides; rate is the one terminal divide (6 dp).  Exact (no
    sketch error): bitmaps are lossless membership, just 32× denser
    than rows.  growth_accounting gives the same ledger row-shaped;
    this is the form that survives 10⁹-actor days."""
    words = bitmap_day_words(events)
    # rename the join key on one side: both sides descend from the
    # same `words` plan, so a["bkt"] == b["bkt"] resolves to the SAME
    # attribute and Spark logs "trivially true equals predicate" on
    # every run (round-3 verdict task #5)
    a = words.select(F.col("day_ts").alias("prev_ts"),
                     F.col("bkt").alias("bkt_a"),
                     F.col("w").alias("wa"))
    b = words.select("day_ts", "bkt", F.col("w").alias("wb"))
    pair = b.join(
        a,
        (F.col("bkt_a") == F.col("bkt"))
        & (F.col("day_ts") == F.col("prev_ts")
           + F.expr("interval 1 day")),
    )
    ret = pair.groupBy("day_ts").agg(
        F.sum(F.bit_count(F.col("wa").bitwiseAND(F.col("wb"))))
         .cast("long").alias("retained"),
    )
    tot = words.groupBy("day_ts").agg(
        F.sum(F.bit_count("w")).cast("long").alias("active")
    )
    prev = tot.select(
        (F.col("day_ts") + F.expr("interval 1 day")).alias("day_ts"),
        F.col("active").alias("active_prev"),
    )
    return (
        tot.join(prev, "day_ts")
        .join(ret, "day_ts", "left")
        .na.fill({"retained": 0})
        .select(
            "day_ts", "active", "active_prev", "retained",
            (F.col("active") - F.col("retained")).alias("new_actors"),
            (F.col("active_prev") - F.col("retained")).alias("churned"),
            F.round(F.col("retained") / F.col("active_prev"), 6)
             .alias("retention_rate"),
        )
    )


def kmv_overlap(df: DataFrame, seg_col: str, item_col: str,
                k: int = 64) -> DataFrame:
    """(seg_a, seg_b, est_a, est_b, est_union, est_jaccard, est_inter):
    distinct-item overlap between every segment pair via K-MINIMUM-
    VALUES sketches — the sketch that, unlike HLL, supports direct
    Jaccard/intersection estimation instead of error-compounding
    inclusion-exclusion (hll_overlap's documented weakness):

      · sketch(S)   = k smallest distinct hashes of S's items
      · D̂(S)        = (k−1)·P/h_(k)            (h uniform on [0,P))
      · union       = k smallest of sketch(A) ∪ sketch(B)
      · Ĵ(A,B)      = |union-k ∩ A-sketch ∩ B-sketch| / k
      · |A∩B|^      = Ĵ · D̂(A∪B)

    Hashing is the dedup family's affine (A_J·x + B_J) mod P31 over
    INTEGER item ids — identical int64 arithmetic in any engine, so
    the oracle replicates every sketch element, not just estimates.
    Sketches smaller than k are EXACT (the estimator degenerates to
    the true count; pytest pins this).  All ranks are integer;
    the only doubles are the final estimate divisions, rounded 6 dp.

    Scale notes (100 TB): raw data is touched once (distinct (seg,
    hash) hash-agg, map-side combined); the per-seg top-k window sorts
    ≤|distinct| rows per segment PARTITION (never a global sort), and
    the pair stage handles |segs|²/2 · k rows — segment count, not
    data volume, bounds it.  Mergeable like HLL: union of sketches =
    sketch of union (k-min of concatenation), so tiered rollup
    composes."""
    from timeseriescorrelation_spark.operators.dedup import A_J, B_J, P31

    a_m, b_a = A_J[0], B_J[0]
    d = df.select(
        F.col(seg_col).alias("seg"),
        ((F.col(item_col).cast("long") * F.lit(a_m) + F.lit(b_a))
         % F.lit(P31)).alias("h"),
    ).distinct()
    w = Window.partitionBy("seg").orderBy("h")
    topk = d.withColumn("r", F.row_number().over(w)).where(
        F.col("r") <= k
    ).select("seg", "h")
    g = topk.groupBy("seg").agg(
        F.max("h").alias("hk"), F.count(F.lit(1)).alias("m")
    )
    est = F.when(
        F.col("m") < k, F.col("m").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) * F.lit(float(P31))
        / F.col("hk").cast("double")
    )
    singles = g.select("seg", est.alias("est"))
    segs = g.select("seg")
    pairs = (
        segs.alias("pa")
        .join(F.broadcast(segs.alias("pb")),
              F.col("pa.seg") < F.col("pb.seg"))
        .select(F.col("pa.seg").alias("seg_a"),
                F.col("pb.seg").alias("seg_b"))
    )
    ua = pairs.join(topk.withColumnRenamed("seg", "seg_a"), "seg_a") \
        .select("seg_a", "seg_b", "h", F.lit(1).alias("ina"),
                F.lit(0).alias("inb"))
    ub = pairs.join(topk.withColumnRenamed("seg", "seg_b"), "seg_b") \
        .select("seg_a", "seg_b", "h", F.lit(0).alias("ina"),
                F.lit(1).alias("inb"))
    merged = (
        ua.unionByName(ub)
        .groupBy("seg_a", "seg_b", "h")
        .agg(F.max("ina").alias("ina"), F.max("inb").alias("inb"))
    )
    wm = Window.partitionBy("seg_a", "seg_b").orderBy("h")
    mk = merged.withColumn("r", F.row_number().over(wm)).where(
        F.col("r") <= k
    )
    pg = mk.groupBy("seg_a", "seg_b").agg(
        F.count(F.lit(1)).alias("mu"),
        F.max("h").alias("mhk"),
        F.sum(F.col("ina") * F.col("inb")).alias("both"),
    )
    est_u = F.when(
        F.col("mu") < k, F.col("mu").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) * F.lit(float(P31))
        / F.col("mhk").cast("double")
    )
    jac = F.col("both").cast("double") / F.col("mu").cast("double")
    out = (
        pg.join(singles.withColumnRenamed("seg", "seg_a")
                .withColumnRenamed("est", "est_a"), "seg_a")
        .join(singles.withColumnRenamed("seg", "seg_b")
              .withColumnRenamed("est", "est_b"), "seg_b")
    )
    return out.select(
        "seg_a", "seg_b",
        F.round("est_a", 6).alias("est_a"),
        F.round("est_b", 6).alias("est_b"),
        F.round(est_u, 6).alias("est_union"),
        F.round(jac, 6).alias("est_jaccard"),
        F.round(jac * est_u, 6).alias("est_inter"),
    )
