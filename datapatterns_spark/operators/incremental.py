"""Incremental / mergeable profiling over partitioned tables.

At 10^12 rows a whole-table re-profile per ingest batch is not viable:
the daily ingest touches a handful of Iceberg partitions while the
profile must describe the WHOLE table.  This module profiles each
partition ONCE into a compact, MERGEABLE per-(partition, attribute)
state row, checkpoints the states behind the same manifest protocol as
the validation layer (operators/manifest.py), and folds any subset of
states into a table-level profile without touching the data again.
Re-profiling after an ingest costs one pass over the NEW partitions
plus a merge over (n_partitions x n_attributes) tiny state rows.

Reference analogue: none — the reference re-runs ``Profile()`` over the
full file every time (/root/reference/Profile.ecl:189) and its only
incremental hook is profile-vs-profile diffing via
NormalizeProfileResults (/root/reference/NormalizeProfileResults.ecl:25).
The per-partition states here give that diff at partition grain for
free, and additionally make the whole-table profile incremental.

Every state component merges with an associative+commutative Spark
built-in aggregate, so neither the state pass nor the merge runs
Python:

====================================  =================================
state component                       merge operator
====================================  =================================
rec_count / fill_count / len_sum      ``sum``
min_length / max_length /             ``min`` / ``max`` / ``min``
min_len_nonzero
card_sketch (DataSketches HLL)        ``hll_union_agg`` ->
                                      ``hll_sketch_estimate``
type_flags (best-type lattice fold,   ``bit_and``  (AS_IS = 0
Profile.ecl:967-992)                  annihilates, so the fold is
                                      order- and grouping-independent)
has_unicode                           ``max``
num_n / num_sum / num_sumsq /         ``sum`` x3 / ``min`` / ``max``
num_min / num_max                     -> exact mean + POPULATION
                                      std-dev (Profile.ecl:1083-1086)
q_sketch (DataSketches KLL, opt-in   ``kll_merge_agg_double`` ->
via ``quantile_delta``)               ``kll_sketch_get_quantile_double``
====================================  =================================

Exactness: every merged statistic except ``cardinality`` and the
opt-in quartiles is EXACT and identical to a whole-table pass
(grouping-independence is what the merge-operator table above buys);
``cardinality`` is a DataSketches HLL estimate (lgConfigK 14, typical
error <1%) and the quartiles come from a KLL sketch (normalized rank
error 0.68% at k = 400) — the same documented deviation as the approx
profile mode, but unlike approx mode the sketches themselves are
stored, so later partitions merge in WITHOUT rescans.  A KLL merge
compacts with a random bit, so two merges of one large store may
return different retained values, each within the rank error.
"""

from __future__ import annotations

import time

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import besttype
from ..plans.local import lit_df
from ..plans.schema_walk import (
    KIND_ARRAY,
    KIND_BINARY,
    KIND_BOOLEAN,
    KIND_NUMERIC,
    KIND_STRING,
    AttrInfo,
    walk_schema,
)
from .constraints import list_partitions
from .manifest import MANIFEST_SCHEMA, completed_partitions
from ..functions.patterns import map_pattern
from .profile import (
    _INT_MAX_DIGITS,
    _int_len_expr,
    _len_expr,
    _value_expr,
)

# DataSketches HLL precision: 2^14 registers ~= 0.8% relative standard
# error — comfortably inside the 2% tolerance the sketch tests pin.
_LG_CONFIG_K = 14

STATE_COLUMNS = [
    "partition",
    "attribute",
    "kind",
    "given_attribute_type",
    "ordinal",
    "rec_count",
    "fill_count",
    "min_length",
    "max_length",
    "len_sum",
    "min_len_nonzero",
    "has_unicode",
    "type_flags",
    "card_sketch",
    "num_n",
    "num_sum",
    "num_sumsq",
    "num_min",
    "num_max",
]


# KLL quantile sketch size.  ``quantile_delta`` is the opt-in and the
# accuracy knob: k = 4 * delta, so delta 100 gives k = 400, a
# normalized rank error of 0.68% (kll_sketch_to_string_double
# "Epsilon"); DataSketches accepts k in [8, 65535].
_KLL_K_MIN, _KLL_K_MAX = 8, 65535
# DataSketches serialization preamble: byte 2 is the family id (15 =
# KLL), bytes 4-5 the sketch's k, little-endian
_KLL_FAMILY = 15


def _kll_k(quantile_delta: float) -> int:
    return min(max(int(round(4 * quantile_delta)), _KLL_K_MIN), _KLL_K_MAX)


def _sketch_k(sketch: bytes, where: str) -> int:
    """k of one serialized KLL sketch; ``ValueError`` for anything else
    (e.g. the t-digest ``TD1`` sketches older stores hold)."""
    if len(sketch) < 8 or sketch[2] != _KLL_FAMILY:
        kind = "t-digest (TD1)" if sketch[:3] == b"TD1" else "non-KLL"
        raise ValueError(
            f"{where} holds {kind} quantile sketches; this version stores "
            "DataSketches KLL sketches — rebuild the states in a fresh "
            "state_path"
        )
    return int.from_bytes(sketch[4:6], "little")


def _state_melt(
    df: DataFrame,
    attrs: list[AttrInfo],
    allow_zero: bool,
    part: Column,
) -> DataFrame:
    """One scan -> (partition, attribute, len, fil, vhash, v, fpat).

    ``fpat`` is the type-flag pattern ('0' kept literal) gated exactly
    as the main profile's pass 1: only filled values of flag-ladder
    kinds, <= 40 chars, starting ``[0-9+-.]`` ever pay the pattern map
    (nothing longer or later-charred can match a numeric rule,
    Profile.ecl:908-935).  ``v`` is the numeric reading: the native
    value for given-numeric attributes, ``try_cast`` of the canonical
    string (behind the same first-char gate) for everything else — the
    reference profiles numeric-content strings numerically.  Every
    value expression is projected ONCE under the Generate (generators
    get no subexpression elimination — NOTES_r2.md)."""
    proj: list[Column] = [part.alias("_part")]
    null_i = F.lit(None).cast("int")
    null_d = F.lit(None).cast("double")
    per_attr: list[dict] = []
    for i, a in enumerate(attrs):
        c = F.col(a.name)
        cols: dict[str, Column] = {}
        if a.kind == KIND_NUMERIC:
            filled = (
                c.isNotNull()
                if allow_zero
                else (c.isNotNull() & (c.cast("double") != 0))
            )
            # native-derived terms must be projected (the struct stage
            # only sees the projection's output)
            proj.append(filled.cast("int").alias(f"_f{i}"))
            if a.given_type in _INT_MAX_DIGITS:
                proj.append(
                    F.when(c.isNull(), 0)
                    .otherwise(_int_len_expr(c, _INT_MAX_DIGITS[a.given_type]))
                    .alias(f"_l{i}")
                )
            else:
                proj.append(F.length(_value_expr(a)).cast("int").alias(f"_l{i}"))
            proj.append(F.xxhash64(c).alias(f"_h{i}"))
            proj.append(F.when(filled, c.cast("double")).alias(f"_d{i}"))
            cols["fil"] = F.col(f"_f{i}")
            cols["len"] = F.col(f"_l{i}")
            cols["vhash"] = F.col(f"_h{i}")
            cols["v"] = F.col(f"_d{i}")
            cols["uni"] = null_i
            cols["fpat"] = F.lit(None).cast("string")
        elif a.kind == KIND_BOOLEAN:
            proj.append(F.xxhash64(F.coalesce(c, F.lit(False))).alias(f"_h{i}"))
            cols["fil"] = F.lit(1)
            cols["len"] = F.lit(1)
            cols["vhash"] = F.col(f"_h{i}")
            cols["v"] = null_d
            cols["uni"] = null_i
            cols["fpat"] = F.lit(None).cast("string")
        else:
            # strings / binary / arrays / temporal: canonical string
            # form, projected ONCE so everything below references a
            # plain column
            proj.append(_value_expr(a).alias(f"_v{i}"))
            vcol = F.col(f"_v{i}")
            if a.kind in (KIND_ARRAY, KIND_BINARY):
                # element count / byte length, not the string form's
                # length (Profile.ecl:819-820; DATA semantics)
                proj.append(_len_expr(a).cast("int").alias(f"_l{i}"))
                lncol: Column = F.col(f"_l{i}")
            else:
                lncol = F.length(vcol).cast("int")
            cols["fil"] = (lncol > 0).cast("int")
            cols["len"] = lncol
            cols["vhash"] = F.xxhash64(vcol)
            cols["uni"] = (
                (F.octet_length(vcol) != lncol).cast("int")
                if a.kind == KIND_STRING
                else null_i
            )
            if a.kind == KIND_ARRAY:
                # SET OF is never numeric (Profile.ecl:846-847)
                cols["v"] = null_d
                cols["fpat"] = F.lit(None).cast("string")
            else:
                gate = (lncol > 0) & (lncol <= 40) & vcol.rlike("^[0-9+\\-.]")
                cols["v"] = F.when(gate, F.expr(f"try_cast(_v{i} AS double)"))
                cols["fpat"] = F.when(
                    gate, map_pattern(F.substring(vcol, 1, 48))
                )
        per_attr.append(cols)
    base = df.select(*proj)
    structs = [
        F.struct(
            F.lit(a.name).alias("attribute"),
            cols["len"].alias("len"),
            cols["fil"].alias("fil"),
            cols["vhash"].alias("vhash"),
            cols["v"].alias("v"),
            cols["uni"].alias("uni"),
            cols["fpat"].alias("fpat"),
        )
        for a, cols in zip(attrs, per_attr)
    ]
    return base.select("_part", F.inline(F.array(*structs)))


def profile_state(
    df: DataFrame,
    partition_col: str | Column | None = None,
    field_list: list[str] | None = None,
    allow_zero: bool = False,
    quantile_delta: float | None = None,
) -> DataFrame:
    """Per-(partition, attribute) mergeable profile state rows.

    One column-pruned scan, one bounded aggregation — the per-partition
    unit of work of :func:`profile_incremental`.  ``partition_col``
    defaults to a whole-input constant.

    ``quantile_delta`` opts into a mergeable quantile sketch per state
    row (column ``q_sketch``): a DataSketches KLL sketch of the numeric
    reading ``v``, built by ``kll_sketch_agg_double`` as one more
    aggregate of the same ``groupBy`` (k = 4 * delta, see
    :func:`_kll_k`).  Rows with no numeric value get a NULL sketch.
    Like the HLL cardinality sketch this is the documented approx-mode
    deviation: the one-shot profile's exact positional quartiles
    cannot merge, the sketch can."""
    attrs, _children = walk_schema(df.schema, field_list=field_list)
    pname = partition_col if isinstance(partition_col, str) else None
    if pname is not None:
        attrs = [a for a in attrs if a.name != pname]
    if not attrs:
        raise ValueError("no profilable attributes")
    part = (
        F.lit("__all__")
        if partition_col is None
        else (
            F.col(partition_col)
            if isinstance(partition_col, str)
            else partition_col
        )
    ).cast("string")

    melted = _state_melt(df, attrs, allow_zero, part)
    fil = F.col("fil") == 1
    as_is = [
        a.name
        for a in attrs
        if a.kind in (KIND_NUMERIC, KIND_BOOLEAN, KIND_ARRAY)
    ]
    flag = (
        F.when(~fil, F.lit(None).cast("int"))
        .when(
            F.col("attribute").isin(as_is) if as_is else F.lit(False),
            F.lit(besttype.AS_IS),
        )
        .when(F.col("fpat").isNull(), F.lit(0))
        .otherwise(besttype.type_flag(F.col("fpat"), treat_as_is=False))
    )
    aggs = [
        F.count(F.lit(1)).alias("rec_count"),
        F.coalesce(F.sum("fil"), F.lit(0)).cast("long").alias("fill_count"),
        F.min(F.when(fil, F.col("len"))).alias("min_length"),
        F.max(F.when(fil, F.col("len"))).alias("max_length"),
        F.sum(F.when(fil, F.col("len"))).cast("long").alias("len_sum"),
        F.min(F.when(fil & (F.col("len") > 0), F.col("len"))).alias(
            "min_len_nonzero"
        ),
        F.max(F.when(fil, F.col("uni"))).alias("has_unicode"),
        F.bit_and(flag).alias("type_flags"),
        F.hll_sketch_agg(F.when(fil, F.col("vhash")), _LG_CONFIG_K).alias(
            "card_sketch"
        ),
        F.count("v").alias("num_n"),
        F.sum("v").alias("num_sum"),
        F.sum(F.col("v") * F.col("v")).alias("num_sumsq"),
        F.min("v").alias("num_min"),
        F.max("v").alias("num_max"),
    ]
    out_cols = list(STATE_COLUMNS)
    if quantile_delta is not None:
        aggs.append(
            F.when(
                F.count("v") > 0,
                F.kll_sketch_agg_double("v", _kll_k(quantile_delta)),
            ).alias("q_sketch")
        )
        out_cols.append("q_sketch")
    state = melted.groupBy(F.col("_part").alias("partition"), "attribute").agg(
        *aggs
    )
    meta = lit_df(
        df.sparkSession,
        [(a.name, a.kind, a.given_type, a.ordinal) for a in attrs],
        "attribute string, kind string, given_attribute_type string, ordinal int",
    )
    return state.join(F.broadcast(meta), "attribute").select(*out_cols)


def merge_states(states: DataFrame) -> DataFrame:
    """Fold state rows (any partition subset, any number of ingest
    batches) into one profile summary row per attribute.

    Pure second-level aggregation over (n_partitions x n_attributes)
    tiny rows — no data rescans.  All output statistics are exact
    except ``cardinality`` (HLL union estimate) and — when the states
    carry a ``q_sketch`` column — the KLL quartiles
    (``numeric_lower_quartile`` / ``numeric_median`` /
    ``numeric_upper_quartile``, same naming as the one-shot approx
    profile): one ``kll_merge_agg_double`` in the same aggregation,
    then one ``kll_sketch_get_quantile_double`` lookup.  A KLL quantile
    is a retained input value, never an interpolation between two."""
    has_q = "q_sketch" in states.columns
    merged = states.groupBy("attribute").agg(
        F.first("kind").alias("kind"),
        F.first("given_attribute_type").alias("given_attribute_type"),
        F.first("ordinal").alias("ordinal"),
        F.sum("rec_count").alias("rec_count"),
        F.sum("fill_count").alias("fill_count"),
        F.min("min_length").alias("min_length"),
        F.max("max_length").alias("max_length"),
        F.sum("len_sum").alias("len_sum"),
        F.min("min_len_nonzero").alias("min_len_nonzero"),
        F.max("has_unicode").alias("has_unicode"),
        F.bit_and("type_flags").alias("type_flags"),
        F.hll_sketch_estimate(
            F.hll_union_agg(F.col("card_sketch"), True)
        ).alias("cardinality"),
        F.sum("num_n").alias("num_n"),
        F.sum("num_sum").alias("num_sum"),
        F.sum("num_sumsq").alias("num_sumsq"),
        F.min("num_min").alias("num_min"),
        F.max("num_max").alias("num_max"),
        *([F.kll_merge_agg_double("q_sketch").alias("q_sketch")] if has_q else []),
    )
    # best-type lattice from the merged folds (same inputs as the main
    # profile's _attach_best_type); the per-attribute kind/given-type
    # dispatch builds a CASE ladder from the states' own metadata rows
    kinds = {
        r["attribute"]: (r["kind"], r["given_attribute_type"])
        for r in states.select("attribute", "kind", "given_attribute_type")
        .distinct()
        .collect()
    }
    best = None
    for name, (kind, given) in sorted(kinds.items()):
        bt = besttype.best_type_name(
            kind=kind,
            given_type=given,
            flags=F.coalesce(F.col("type_flags"), F.lit(0)),
            max_len=F.coalesce(F.col("max_length"), F.lit(0)),
            min_len_nonzero=F.coalesce(F.col("min_len_nonzero"), F.lit(0)),
            is_unicode=F.coalesce(F.col("has_unicode"), F.lit(0)) == 1,
        )
        bt = F.when(F.col("fill_count") == 0, F.col("given_attribute_type")).otherwise(bt)
        cond = F.col("attribute") == name
        best = F.when(cond, bt) if best is None else best.when(cond, bt)
    n = F.col("num_n")
    mean = F.col("num_sum") / n
    quartile_cols: list = []
    if has_q:
        # an all-NULL merge input yields an EMPTY (not NULL) sketch, and
        # a quantile lookup on an empty sketch errors: gate on its n
        merged = merged.withColumn(
            "_q",
            F.when(
                F.kll_sketch_get_n_double("q_sketch") > 0,
                F.kll_sketch_get_quantile_double(
                    "q_sketch", F.lit([0.25, 0.5, 0.75])
                ),
            ),
        )
        quartile_cols = [
            F.round(F.col("_q")[i], 4).alias(name)
            for i, name in enumerate(
                (
                    "numeric_lower_quartile",
                    "numeric_median",
                    "numeric_upper_quartile",
                )
            )
        ]
    return (
        merged.withColumn("best_attribute_type", best)
        .withColumn(
            "fill_rate",
            F.when(
                F.col("rec_count") > 0,
                F.round(F.col("fill_count") / F.col("rec_count") * 100, 6),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "ave_length",
            F.when(
                F.col("fill_count") > 0,
                F.floor(F.col("len_sum") / F.col("fill_count")),
            ).otherwise(F.lit(0)).cast("long"),
        )
        .select(
            "attribute",
            "given_attribute_type",
            "best_attribute_type",
            "rec_count",
            "fill_count",
            "fill_rate",
            F.coalesce("cardinality", F.lit(0)).alias("cardinality"),
            F.coalesce("min_length", F.lit(0)).alias("min_length"),
            F.coalesce("max_length", F.lit(0)).alias("max_length"),
            "ave_length",
            F.when(n > 0, F.round(F.col("num_min"), 4)).alias("numeric_min"),
            F.when(n > 0, F.round(F.col("num_max"), 4)).alias("numeric_max"),
            F.when(n > 0, F.round(mean, 4)).alias("numeric_mean"),
            F.when(
                n > 0,
                F.round(
                    F.sqrt(
                        F.greatest(
                            F.col("num_sumsq") / n - mean * mean, F.lit(0.0)
                        )
                    ),
                    4,
                ),
            ).alias("numeric_std_dev"),
            *quartile_cols,
            "ordinal",
        )
        .orderBy("ordinal")
        .drop("ordinal")
    )


# digest_drift reads each merged sketch at ranks 1/G, 2/G, ..., 1: the
# grid adds at most 1/G to the sketches' own rank error
_KS_GRID = 1000


def _ks_distance(a: str, b: str) -> Column:
    """KS distance between the KLL sketches in columns ``a`` and ``b``,
    JVM-side.

    ``kll_sketch_get_rank_double`` takes only a literal value, so each
    sketch is read instead as a quantile grid at literal ranks i/G: the
    grid value g_i is the smallest value of rank >= i/G, so
    F(x) ~= #{g_i <= x} / G.  Both grids, tagged +1 (a) and -1 (b), are
    sorted into one walk whose running sum ``c`` is G * (F_a - F_b);
    the KS distance is its largest magnitude ``m``, read only once all
    entries equal to a value are in (ties must not count as drift).
    Written as one SQL expression: building it from Column calls costs
    a py4j round trip per literal and lambda."""
    ranks = ", ".join(f"{i / _KS_GRID!r}D" for i in range(1, _KS_GRID + 1))

    def tagged(sketch: str, w: int) -> str:
        return (
            f"transform(kll_sketch_get_quantile_double({sketch}, array({ranks})),"
            f" x -> named_struct('v', x, 'w', {w}))"
        )

    return F.expr(
        f"""CASE WHEN kll_sketch_get_n_double({a}) > 0
              AND kll_sketch_get_n_double({b}) > 0 THEN aggregate(
            array_sort(concat({tagged(a, 1)}, {tagged(b, -1)})),
            named_struct('c', 0, 'm', 0, 'v', CAST(NULL AS DOUBLE)),
            (acc, e) -> named_struct(
                'c', acc.c + e.w,
                'm', IF(e.v > acc.v, greatest(acc.m, abs(acc.c)), acc.m),
                'v', e.v),
            acc -> greatest(acc.m, abs(acc.c)) / {_KS_GRID}D) END"""
    )


def digest_drift(base_states: DataFrame, cur_states: DataFrame) -> DataFrame:
    """Per-attribute KS distance between two state stores' merged KLL
    sketches: distribution drift computed from stored profile states
    ALONE — no rescan of either dataset, unlike the value-histogram
    drift in operators/constraints.py (PSI/KS/JS), which needs a pass
    over the current data.  One aggregation merges each side's
    sketches (``kll_merge_agg_double``) and :func:`_ks_distance` reads
    both merged sketches, all in the JVM.  Error is bounded by the two
    sketches' rank errors plus 1/_KS_GRID, so this is the 10^12-row
    drift screen: run it per ingest from the checkpointed states,
    rescan only attributes it flags.  ``ks`` is NULL where either side
    has no numeric value."""
    for name, s in (("base_states", base_states), ("cur_states", cur_states)):
        if "q_sketch" not in s.columns:
            raise ValueError(
                f"{name} has no q_sketch column; build states with "
                "profile_state(..., quantile_delta=...)"
            )
    tagged = (
        base_states.select("attribute", "q_sketch")
        .withColumn("side", F.lit("base"))
        .unionByName(
            cur_states.select("attribute", "q_sketch").withColumn(
                "side", F.lit("cur")
            )
        )
        .where(F.col("q_sketch").isNotNull())
    )
    side = F.col("side")
    return (
        tagged.groupBy("attribute")
        .agg(
            *[
                F.kll_merge_agg_double(
                    F.when(side == s, F.col("q_sketch"))
                ).alias(s)
                for s in ("base", "cur")
            ]
        )
        .select("attribute", _ks_distance("base", "cur").alias("ks"))
    )


def profile_incremental(
    df: DataFrame,
    partition_col: str,
    state_path: str,
    field_list: list[str] | None = None,
    allow_zero: bool = False,
    batch_size: int = 8,
    snapshot_id: str = "",
    quantile_delta: float | None = None,
) -> DataFrame:
    """Checkpointed incremental profile over a partitioned table.

    Profiles only partitions without a COMPLETE manifest entry under
    ``state_path`` (the validation manifest protocol,
    operators/manifest.py), appending their state rows, then returns
    the merge of ALL states — so a run over a grown table costs one
    pass over the NEW partitions plus a tiny merge, and a crashed run
    loses at most one batch.

    ``quantile_delta`` must match the store: mixing state rows with
    and without ``q_sketch`` would silently drop quantile coverage for
    the sketchless partitions, and sketches of another k would mix
    rank-error contracts, so a mismatch against existing states fails
    fast (the same param-pinning contract as the curation job's
    run-params guard), as does a store of the older t-digest (TD1)
    sketches.  An unreadable manifest raises rather than reading as
    "nothing done"."""
    spark = df.sparkSession
    done = completed_partitions(spark, state_path)
    if done:
        stored_df = spark.read.parquet(f"{state_path}/states")
        if ("q_sketch" in stored_df.columns) != (quantile_delta is not None):
            raise ValueError(
                "quantile_delta mismatch with existing states under "
                f"{state_path!r}: stored rows "
                f"{'have' if 'q_sketch' in stored_df.columns else 'lack'} "
                "q_sketch; rerun with the original setting or a fresh "
                "state_path"
            )
        if quantile_delta is not None:
            # pin the VALUE too: sketches of different k merge without
            # error but mix rank-error contracts silently.  k rides every
            # serialized sketch header, so one stored sketch answers for
            # the whole store (profile_state writes a single k per run,
            # and this guard holds inductively).
            row = (
                stored_df.where(F.col("q_sketch").isNotNull())
                .select("q_sketch")
                .first()
            )
            if row is not None:
                stored_k = _sketch_k(bytes(row[0]), repr(state_path))
                want_k = _kll_k(quantile_delta)
                if stored_k != want_k:
                    raise ValueError(
                        "quantile_delta mismatch with existing states "
                        f"under {state_path!r}: stored sketches use "
                        f"k={stored_k} (quantile_delta={stored_k / 4}), "
                        f"run requested k={want_k} (quantile_delta="
                        f"{float(quantile_delta)}); rerun with the "
                        "original setting or a fresh state_path"
                    )
    parts = list_partitions(
        df, F.col(partition_col).cast("string"), partition_col
    )
    todo = [p for p in parts if p not in done]
    n_attrs = len(
        [
            a
            for a in walk_schema(df.schema, field_list=field_list)[0]
            if a.name != partition_col
        ]
    )
    for i in range(0, len(todo), batch_size):
        batch = todo[i : i + batch_size]
        started = time.time()
        sub = df.filter(F.col(partition_col).cast("string").isin(batch))
        profile_state(
            sub,
            partition_col,
            field_list=field_list,
            allow_zero=allow_zero,
            quantile_delta=quantile_delta,
        ).write.mode("append").parquet(f"{state_path}/states")
        finished = time.time()
        lit_df(
            spark,
            [
                (p, "COMPLETE", started, finished, n_attrs, 0, snapshot_id)
                for p in batch
            ],
            MANIFEST_SCHEMA,
        ).write.mode("append").parquet(f"{state_path}/manifest")
    return merge_states(spark.read.parquet(f"{state_path}/states"))
