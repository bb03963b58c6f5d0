"""Skew handling: head/tail plan splitting + salted aggregation.

Hot domains in Common-Crawl-style corpora give a Zipf head of urls
whose row counts dwarf the tail (the synthetic generator reproduces
this; FIXTURES.md §6). Three tools (SURVEY.md §4.3, north rule):

- :func:`head_keys` — find the hot keys (top-k by count or min-count
  threshold): one partial+final count agg + driver-side top-k.
- :func:`asof_join_skew` — as-of join with plan splitting: probes of
  head urls take the **broadcast** path (their feature history is
  broadcast; no shuffle of those probes), the tail takes the
  union+window sort-merge path; results are unioned. AQE skew-join
  can't split a WINDOW, so this is explicit plan surgery.
- :func:`salted_agg` — two-phase aggregation with an explicit salt for
  algebraic aggregates where a single hot key would bottleneck the
  final reducer: ``groupBy(key, salt) → partial → groupBy(key) →
  merge``. (Catalyst's partial aggregation already handles sums; the
  salt matters for high-cardinality intermediate state, e.g.
  collect-style or distinct-count aggregates.)

Salting is deterministic (hash of the time column, not ``rand()``) so
resumed/retried computations land in identical partitions (SURVEY.md
§7 hard parts).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ballet_spark.operators.asof import asof_join, asof_join_broadcast
from ballet_spark.session import local_frame


HEAD_KEYS_HARD_CAP = 10_000


def head_keys(
    df: DataFrame,
    key: str = "url",
    top_k: int | None = None,
    min_count: int | None = None,
) -> list:
    """Hot keys by row count: the broadcast set for plan splitting.

    The collect is ALWAYS bounded: ``top_k`` by its limit, and the
    ``min_count`` form by ``HEAD_KEYS_HARD_CAP`` — a degenerate
    threshold (e.g. ``min_count=1`` on a high-cardinality key) must
    not pull millions of keys onto the driver. When the cap bites, the
    hottest keys win (that's the set broadcast-splitting wants) and a
    warning names the dropped count."""
    counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("n"))
    if min_count is not None:
        hot = counts.filter(F.col("n") >= min_count)
        rows = (
            hot.orderBy(F.desc("n"), F.asc(key))
            .limit(HEAD_KEYS_HARD_CAP + 1)
            .collect()
        )
        if len(rows) > HEAD_KEYS_HARD_CAP:
            import warnings

            warnings.warn(
                f"head_keys(min_count={min_count}) matched more than "
                f"{HEAD_KEYS_HARD_CAP} keys; keeping the "
                f"{HEAD_KEYS_HARD_CAP} hottest — raise min_count (a "
                "broadcast head set this large defeats the plan split)",
                stacklevel=2,
            )
            rows = rows[:HEAD_KEYS_HARD_CAP]
    else:
        rows = counts.orderBy(F.desc("n"), F.asc(key)).limit(
            100 if top_k is None else int(top_k)
        ).collect()
    return [r[key] for r in rows]


def asof_join_skew(
    left: DataFrame,
    right: DataFrame,
    on: str = "url",
    left_ts: str = "ts",
    right_ts: str = "warc_ts",
    value_cols: Sequence[str] | None = None,
    head: Sequence | None = None,
    top_k: int = 50,
    max_history: int = 100_000,
) -> DataFrame:
    """As-of join with explicit head/tail plan split.

    ``head`` (default: the top-``top_k`` **probe-side** keys by count)
    routes through :func:`asof_join_broadcast`; the rest through the
    union+window path. Output schema matches :func:`asof_join`.

    Head keys come from the PROBE side because that is the skew being
    fixed: a Zipf-hot url with 100M probe rows makes one giant window
    partition on the sort-merge path, and the broadcast path removes
    exactly that sort. What gets broadcast is those keys' right-side
    history — so any candidate whose history exceeds ``max_history``
    rows is kept on the window path instead (broadcasting a huge
    history is the driver-OOM failure mode, and a big right side is
    what the sort-merge path is already good at).
    """
    if head is None:
        cand = head_keys(left, key=on, top_k=top_k)
        if cand:
            hist = (
                right.filter(F.col(on).isin(list(cand)))
                .groupBy(on)
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
            big = {r[on] for r in hist if r["n"] > max_history}
            head = [k for k in cand if k not in big]
        else:
            head = []
    if not head:
        return asof_join(left, right, on, left_ts, right_ts, value_cols)

    # NULL-safe: isin() yields NULL for NULL keys, which both branch
    # filters would reject — route NULL-keyed rows to the tail path so
    # the split equals the plain as-of join exactly.
    is_head = F.coalesce(F.col(on).isin(list(head)), F.lit(False))
    tail_out = asof_join(
        left.filter(~is_head), right.filter(~is_head),
        on, left_ts, right_ts, value_cols,
    )
    head_out = asof_join_broadcast(
        left.filter(is_head), right.filter(is_head),
        on, left_ts, right_ts, value_cols,
    )
    return tail_out.unionByName(head_out.select(*tail_out.columns))


def salted_agg(
    df: DataFrame,
    key: str,
    agg_col: str,
    n_salts: int = 16,
    time_col: str | None = None,
):
    """Two-phase salted aggregation returning per-key
    (sum, count, min, max) — the merge-able core; deterministic salt
    from the time column (or the value column) hash.

    HONESTY NOTE on when to reach for this: for these algebraic
    aggregates Catalyst's map-side partial aggregation ALREADY bounds
    what a hot key's final reducer receives (≤ one partial row per map
    task), so a plain ``df.groupBy(key).agg(...)`` does one exchange
    where this does two — prefer the plain form for sum/count/min/max.
    The salted shape earns its second shuffle when the per-key STATE
    is not a constant-size partial: collect_list/collect_set,
    exact countDistinct, large typed-imperative UDAFs — or when
    partial aggregation is defeated (e.g. first-agg-after-expand).
    It is kept as the template those states drop into."""
    salt_src = time_col or agg_col
    salted = df.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(salt_src)), F.lit(n_salts))
    )
    partial = salted.groupBy(key, "__salt").agg(
        F.sum(agg_col).alias("s"),
        F.count(agg_col).alias("c"),
        F.min(agg_col).alias("mn"),
        F.max(agg_col).alias("mx"),
    )
    return partial.groupBy(key).agg(
        F.sum("s").alias("sum"),
        F.sum("c").alias("count"),
        F.min("mn").alias("min"),
        F.max("mx").alias("max"),
        (F.sum("s") / F.sum("c")).alias("mean"),
    )


_RUN_PARTIALS = {
    "sum": lambda c: F.sum(c),
    "count": lambda c: F.count(c),
    "min": lambda c: F.min(c),
    "max": lambda c: F.max(c),
}
# prefix-combine of per-chunk PARTIALS: counts combine by SUM
_RUN_COMBINE = {
    "sum": lambda c: F.sum(c),
    "count": lambda c: F.sum(c),
    "min": lambda c: F.min(c),
    "max": lambda c: F.max(c),
}
_RUN_MERGE = {
    # merge(carry-from-prior-chunks, local-running) — carry is NULL for
    # an entity's first chunk; local sum is NULL until a non-NULL value
    "sum": lambda carry, local: (
        F.when(carry.isNull(), local)
        .when(local.isNull(), carry)
        .otherwise(carry + local)
    ),
    "count": lambda carry, local: F.coalesce(carry, F.lit(0)) + local,
    "min": lambda carry, local: F.least(carry, local),
    "max": lambda carry, local: F.greatest(carry, local),
}


def _check_reserved(df, aggs, out_prefix, fn_name):
    """Internal/output column collisions fail fast: a pre-existing
    __chunk/__ghost would be silently overwritten in the head branch
    only (mixed garbage), and a pre-existing <prefix>_<agg> column
    makes the head-path merge ambiguous (AnalysisException deep in the
    plan). Same convention as apply_mixing/dedup_lines."""
    reserved = {"__chunk", "__ghost"} | {f"{out_prefix}_{a}" for a in aggs}
    for c in reserved:
        if c in df.columns:
            raise ValueError(f"{fn_name} reserves column name {c!r}")


def salted_running_agg(
    df: DataFrame,
    key: str,
    time_col: str,
    value_col: str,
    aggs: Sequence[str] = ("sum", "count", "min", "max"),
    head: Sequence | None = None,
    top_k: int = 50,
    chunk_seconds: int = 86_400,
    out_prefix: str = "run",
) -> DataFrame:
    """Running (cumulative) aggregates with a two-phase plan for hot
    entities — the pure-window skew gap (SURVEY §4 custom item 3): a
    plain ``sum() OVER (PARTITION BY url ORDER BY ts)`` puts a hot
    domain's entire history in ONE task; at 10^12 docs a url with 10^8
    snapshots serializes an executor for hours.

    Plan: tail keys take the ordinary single window. ``head`` keys
    (explicit, or the top-``top_k`` by count via :func:`head_keys`)
    take a parallel prefix scan:

    1. **chunk** — rows bucket into time-contiguous salt chunks
       ``floor(epoch(ts) / chunk_seconds)``: deterministic, monotone in
       event time (a retry lands in the same chunk), no pre-pass;
    2. **local** — running aggregates within ``(key, chunk)`` windows,
       so the per-task frame is bounded by one chunk's rows;
    3. **carry** — per-chunk totals (one small agg: |head|·|chunks|
       rows) get an exclusive prefix scan over chunks per key, then
       broadcast-join back on ``(key, chunk)``;
    4. **merge** — running = carry ⊕ local per aggregate.

    Semantics are the RANGE frame (``ORDER BY ts RANGE UNBOUNDED
    PRECEDING``): rows with tied timestamps all aggregate together, so
    the result is deterministic and the head path equals the tail path
    row-for-row (ties share a chunk by construction). ``mean`` derives
    as sum/count. NULL keys and NULL times route to the tail path.

    Exactness note: float ``sum`` regroups terms ((chunk₁+…)+local vs
    one left fold), so head-path float sums can differ from a plain
    window by ulps — pass a decimal ``value_col`` when bit-stable
    totals matter (decimal addition is associative; the driver query
    does this). min/max/count are regroup-proof."""
    bad = [a for a in aggs if a not in _RUN_PARTIALS]
    if bad:
        raise ValueError(f"unsupported running aggs {bad}: {sorted(_RUN_PARTIALS)}")
    if chunk_seconds < 1:
        raise ValueError("chunk_seconds must be >= 1")
    _check_reserved(df, aggs, out_prefix, "salted_running_agg")
    if head is None:
        head = head_keys(df, key=key, top_k=top_k)
    epoch = F.col(time_col).cast("timestamp").cast("double")
    v = F.col(value_col)

    def running_cols(w):
        return [
            _RUN_PARTIALS[a](v).over(w).alias(f"{out_prefix}_{a}")
            for a in aggs
        ]

    plain_w = Window.partitionBy(key).orderBy(epoch).rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    if not head:
        return df.select("*", *running_cols(plain_w))

    # NULL keys → tail (their own window partition, as in the plain
    # plan). NULL event times STAY on their key's path: they become the
    # NULL chunk, which sorts first — its totals fold into every real
    # chunk's carry and its own rows merge carry-free — exactly the
    # RANGE-frame nulls-first semantics of the plain window.
    is_head = F.coalesce(F.col(key).isin(list(head)), F.lit(False))
    tail_out = df.filter(~is_head).select("*", *running_cols(plain_w))

    hot = df.filter(is_head).withColumn(
        "__chunk", F.floor(epoch / F.lit(float(chunk_seconds)))
    )
    local_w = Window.partitionBy(key, "__chunk").orderBy(epoch).rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    local = hot.select("*", *running_cols(local_w))

    # totals are a SEPARATE aggregation branch over `hot`, not a
    # derivation from the windowed output: partial aggregation shrinks
    # this branch map-side to ≤|head·chunks| rows before its exchange,
    # whereas reusing `local` would shuffle the FULL hot subset through
    # a second window first (measured: strictly more exchanged bytes).
    totals = hot.groupBy(key, "__chunk").agg(
        *[_RUN_PARTIALS[a](v).alias(f"__t_{a}") for a in aggs]
    )
    # exclusive prefix: everything from strictly-earlier chunks
    carry_w = Window.partitionBy(key).orderBy("__chunk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    carry = totals.select(
        key,
        "__chunk",
        *[
            _RUN_COMBINE[a](F.col(f"__t_{a}")).over(carry_w).alias(f"__c_{a}")
            for a in aggs
        ],
    )
    merged = local.join(F.broadcast(carry), [key, "__chunk"], "left")
    head_out = merged.select(
        *[c for c in df.columns],
        *[
            _RUN_MERGE[a](
                F.col(f"__c_{a}"), F.col(f"{out_prefix}_{a}")
            ).alias(f"{out_prefix}_{a}")
            for a in aggs
        ],
    )
    return tail_out.unionByName(head_out.select(*tail_out.columns))


def salted_rolling_agg(
    df: DataFrame,
    key: str,
    time_col: str,
    value_col: str,
    duration_s: int,
    aggs: Sequence[str] = ("sum", "count", "min", "max"),
    head: Sequence | None = None,
    top_k: int = 50,
    chunk_seconds: int | None = None,
    out_prefix: str = "roll",
) -> DataFrame:
    """Trailing time-window aggregates (all rows in ``[t−D, t]`` per
    key, RANGE semantics) with a two-phase plan for hot entities — the
    rolling sibling of :func:`salted_running_agg`.

    Head keys chunk by time (``chunk_seconds ≥ duration_s``, default
    ``4·D``); a row whose trailing window can be read by the NEXT
    chunk (within ``D`` of the chunk boundary) is replicated there as
    a GHOST row, so every chunk-local RANGE window sees exactly the
    rows the global window would; ghosts are dropped after the window.
    Row inflation is bounded by ``1 + D/chunk_seconds`` (≤1.25 at the
    default); per-task frame size is bounded by one chunk + one
    overlap instead of the hot key's entire history. Tail keys take
    the plain single window; results union, row-for-row equal to the
    plain plan (parity-tested). NULL keys → tail; NULL event times
    sort first in the plain window's NULL peer group, so they route to
    the tail path where that semantic is preserved exactly (a NULL
    time has no trailing range frame — its peers are the other NULL
    rows of its key, all of which stay on the tail path together).

    Float ``sum`` regroups terms across the ghost boundary exactly as
    the plain window's sliding accumulation does NOT — pass a decimal
    value column when bit-stable totals matter (as with
    :func:`salted_running_agg`)."""
    bad = [a for a in aggs if a not in _RUN_PARTIALS]
    if bad:
        raise ValueError(f"unsupported rolling aggs {bad}: {sorted(_RUN_PARTIALS)}")
    _check_reserved(df, aggs, out_prefix, "salted_rolling_agg")
    if duration_s < 0:
        raise ValueError("duration_s must be >= 0")
    if chunk_seconds is None:
        chunk_seconds = max(4 * duration_s, 1)
    if chunk_seconds < duration_s:
        raise ValueError(
            f"chunk_seconds ({chunk_seconds}) must be >= duration_s "
            f"({duration_s}): a trailing window may never span more "
            "than one chunk boundary"
        )
    if head is None:
        head = head_keys(df, key=key, top_k=top_k)
    epoch = F.col(time_col).cast("timestamp").cast("double")
    v = F.col(value_col)

    def rolling_cols(w):
        return [
            _RUN_PARTIALS[a](v).over(w).alias(f"{out_prefix}_{a}")
            for a in aggs
        ]

    plain_w = Window.partitionBy(key).orderBy(epoch).rangeBetween(
        -duration_s, Window.currentRow
    )
    if not head:
        return df.select("*", *rolling_cols(plain_w))

    is_head = (
        F.coalesce(F.col(key).isin(list(head)), F.lit(False))
        & F.col(time_col).isNotNull()
    )
    tail_out = df.filter(~is_head).select("*", *rolling_cols(plain_w))

    hot = df.filter(is_head)
    chunk_of = F.floor(epoch / F.lit(float(chunk_seconds)))
    real = hot.withColumn("__chunk", chunk_of).withColumn(
        "__ghost", F.lit(False)
    )
    # rows within D of their chunk's end serve the next chunk's reads
    ghosts = (
        hot.filter(
            epoch >= (chunk_of + 1) * F.lit(float(chunk_seconds)) - duration_s
        )
        .withColumn("__chunk", chunk_of + 1)
        .withColumn("__ghost", F.lit(True))
    )
    both = real.unionByName(ghosts)
    local_w = Window.partitionBy(key, "__chunk").orderBy(epoch).rangeBetween(
        -duration_s, Window.currentRow
    )
    head_out = (
        both.select("*", *rolling_cols(local_w))
        .filter(~F.col("__ghost"))
        .drop("__chunk", "__ghost")
    )
    return tail_out.unionByName(head_out.select(*tail_out.columns))


def skew_report(df: DataFrame, key: str = "url", top_k: int = 10) -> DataFrame:
    """Key-distribution diagnostics: total rows, distinct keys, and the
    share held by the top-k keys — the planner signal for enabling the
    head/tail split."""
    counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(
        F.sum("n").alias("rows"), F.count(F.lit(1)).alias("keys")
    ).first()
    top = counts.orderBy(F.desc("n")).limit(top_k).agg(F.sum("n")).first()[0]
    # empty input: sum() aggregates to NULL — report a zero row, don't
    # crash the planner diagnostic on degenerate input
    rows = int(total["rows"] or 0)
    return local_frame(
        df.sparkSession,
        [
            (
                rows,
                int(total["keys"] or 0),
                int(top or 0),
                float((top or 0) / rows) if rows else 0.0,
            )
        ],
        "total_rows long, distinct_keys long, topk_rows long, topk_share double",
    )
