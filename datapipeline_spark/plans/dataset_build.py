"""Dataset assembly over a compiled project: features → series → samples →
postprocess → split/scale → fold outputs.

Reference lifecycle (pipelines/dataset/pipeline.py:69-246): assemble samples
from the series artifact, label splits, fit/apply leakage-free per-fold
scalers, run the fixed postprocess order, route folds. The long series frame
(the reference's series cache) is materialized ONCE per build with an eager
localCheckpoint; the id/multiplicity/window probes are one aggregation over
it, and every later step (pivot, lattice, scaler fit, fold writes) is a lazy
transformation reading it. Fold outputs are filters over one labeled plan.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

from datapipeline_spark.dataset.postprocess import (
    drop_rows_by_coverage,
    select_columns_by_coverage,
)
from datapipeline_spark.dataset.sample import assemble_samples, rectangular_samples
from datapipeline_spark.dataset.scaler import apply_scaler, fit_scaler
from datapipeline_spark.dataset.series import project_series
from datapipeline_spark.dataset.split import time_split_label, hash_split_label
from datapipeline_spark.functions.time import floor_time_expr, parse_datetime_utc
from datapipeline_spark.operators.window import sequence_windows
from datapipeline_spark.plans.compiler import CompiledProject
from datapipeline_spark.plans.config import DatasetConfig, FeatureSpec

LABEL = "__split__"


def _long_frame(
    compiled: CompiledProject, spec: FeatureSpec, entity_keys: Sequence[str]
) -> DataFrame:
    """One feature/target → long series rows (series_id, time, *keys, value,
    base_id). Sequence specs window the field into arrays first."""
    df = compiled.stream(spec.stream)
    partition_by = compiled.partition_by(spec.stream)
    field = spec.field
    if spec.sequence is not None:
        df = sequence_windows(
            df,
            field,
            size=spec.sequence.size,
            stride=spec.sequence.stride,
            partition_by=partition_by,
            out="__seq__",
        )
        field = "__seq__"
    long_df = project_series(
        df,
        base_id=spec.id,
        partition_by=partition_by,
        entity_keys=entity_keys,
        value_field=field,
    )
    return long_df.withColumn("base_id", F.lit(spec.id))


def _union_all(frames: list[DataFrame]) -> DataFrame | None:
    out = None
    for f in frames:
        out = f if out is None else out.unionByName(f)
    return out


def _materialize(frames: list[DataFrame]) -> DataFrame | None:
    """UNION ALL of long frames, materialized once (the reference's series
    cache). An eager localCheckpoint rather than cache(): it truncates the
    lineage, so every downstream plan (probe, pivot, lattice, scaler fit,
    each fold write) analyzes and plans over a leaf `Scan ExistingRDD`
    instead of re-running the stream graph (floor_time → collapse → fill →
    rolling, broadcast joins) per consumer. It is also the single code path
    for every caller of `_build`, where reading the on-disk series artifact
    would only exist under artifact_mode AUTO|FORCE. The blocks are released
    by Spark's ContextCleaner once the frame is unreachable."""
    out = _union_all(frames)
    return None if out is None else out.localCheckpoint(eager=True)


def _series_probe(
    longs: list[DataFrame], cadence: str, keys: Sequence[str]
) -> list[Row]:
    """Per series id (with its base id): min/max bucket multiplicity (`lo`,
    `hi`: observations per (bucket, *keys) cell) and first/last observed
    bucket. ONE grouped aggregation over the materialized long frames
    replaces the id, multiplicity and window-bounds probes; the result is
    id-domain sized, sorted by series id."""
    slim = _union_all(
        [
            long_df.select(
                floor_time_expr("time", cadence).alias("bucket"),
                *keys,
                "series_id",
                "base_id",
            )
            for long_df in longs
        ]
    )
    rows = (
        slim.groupBy("bucket", *keys, "series_id", "base_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("series_id", "base_id")
        .agg(
            F.min("n").alias("lo"),
            F.max("n").alias("hi"),
            F.min("bucket").alias("first"),
            F.max("bucket").alias("last"),
        )
        .collect()
    )
    return sorted(rows, key=lambda r: r["series_id"])


def _series_ids(probe: list[Row]) -> list[str]:
    """Sorted encoded ids for the pivot list, read off the series probe (the
    reference reads the same set from its series artifact manifest)."""
    return sorted(r["series_id"] for r in probe)


@dataclass
class DatasetBuild:
    samples: DataFrame  # wide frame: time, *keys, one column per series id (+ label)
    feature_columns: list[str]
    target_columns: list[str]
    column_base: dict[str, str]  # wide column → base feature/target id
    scaler_stats: DataFrame | None  # (fold?, base_id, mean, std, count)
    fold_plan: dict[str, dict[str, list[str]]]  # fold → role → labels
    scaled_bases: set[str]  # base ids with `scale: true`

    def outputs(self) -> dict[tuple[str, str], DataFrame]:
        """(fold, role) → scaled frame; single-fold 'all/full' when no split."""
        if not self.fold_plan:
            return {("all", "full"): self._scaled(self.samples, None).drop(LABEL)}
        outs: dict[tuple[str, str], DataFrame] = {}
        for fold, roles in self.fold_plan.items():
            scaled = self._scaled(self.samples, fold)
            for role, labels in roles.items():
                if labels:
                    outs[(fold, role)] = scaled.filter(
                        F.col(LABEL).isin(list(labels))
                    ).drop(LABEL)
        return outs

    def _scaled(self, df: DataFrame, fold: str | None) -> DataFrame:
        if self.scaler_stats is None:
            return df
        stats = self.scaler_stats
        if fold is not None:
            stats = stats.filter(F.col("fold") == fold).drop("fold")
        scaled_cols = [c for c, b in self.column_base.items() if b in self.scaled_bases]
        if not scaled_cols:
            return df
        # stats are keyed by FULL series id — partitioned columns each scale
        # with their own statistics (reference vector/scaler.py:144-151:
        # selection by base_id, lookup by vector_id); stats are tiny
        rows = {r["series_id"]: r for r in stats.collect()}
        dtypes = dict(df.dtypes)
        # one projection: each column is rewritten once, from its own input
        scaled: dict[str, Column] = {}
        for col in scaled_cols:
            r = rows.get(col)
            if r is None:
                continue
            mean, std = F.lit(r["mean"]), F.lit(r["std"])
            if dtypes[col].startswith("array"):
                # elementwise with null passthrough (reference
                # transforms/vector/scaler.py:82-175 list handling)
                value = F.transform(F.col(col), lambda x: (x - mean) / std)
            else:
                value = (F.col(col) - mean) / std
            scaled[col] = F.when(F.col(col).isNotNull(), value)
        return df.withColumns(scaled) if scaled else df


def build_dataset(
    compiled: CompiledProject, window_mode: str | None = None
) -> DatasetBuild:
    cfg = compiled.definition.dataset
    if cfg is None:
        raise ValueError("project has no dataset.yaml")
    return _build(compiled, cfg, window_mode=window_mode)


def _window_clip(wide: DataFrame, probe: list[Row], window_mode: str) -> DataFrame:
    """Clip samples to the metadata window (reference operations/artifacts/
    metadata.py:36-108; serve applies it, default mode 'intersection'):
    per-base range = [min, max] observed ROW bucket with partitions unioned
    within a base; 'intersection' = max-of-firsts/min-of-lasts over base
    ranges, 'strict' = same over per-partition (full series id) ranges,
    'union' = min-of-firsts/max-of-lasts. The ranges fold the per-series
    first/last buckets of the series probe (every scalar and sequence
    series) in Python."""
    if window_mode not in {"union", "intersection", "strict"}:
        raise ValueError(
            f"window_mode must be union|intersection|strict, got {window_mode!r}"
        )
    group = "series_id" if window_mode == "strict" else "base_id"
    ranges: dict[str, tuple] = {}
    for r in probe:
        if r["first"] is None:
            continue
        lo, hi = ranges.get(r[group], (r["first"], r["last"]))
        ranges[r[group]] = (min(lo, r["first"]), max(hi, r["last"]))
    bounds = list(ranges.values())
    if not bounds:
        return wide
    if window_mode == "union":
        start, end = min(b[0] for b in bounds), max(b[1] for b in bounds)
    else:
        start, end = max(b[0] for b in bounds), min(b[1] for b in bounds)
        if start > end:
            return wide.filter(F.lit(False))
    return wide.filter((F.col("time") >= F.lit(start)) & (F.col("time") <= F.lit(end)))


def _build(
    compiled: CompiledProject, cfg: DatasetConfig, window_mode: str | None = None
) -> DatasetBuild:
    keys = list(cfg.sample.keys)
    cadence = cfg.sample.cadence

    specs = [(s, "feature") for s in cfg.features] + [(s, "target") for s in cfg.targets]
    seq_bases = {s.id for s, _ in specs if s.sequence is not None}
    # the series cache: each long frame computed once, read by every step below
    scalar_long = _materialize(
        [_long_frame(compiled, s, keys) for s, _ in specs if s.id not in seq_bases]
    )
    seq_long = _materialize(
        [_long_frame(compiled, s, keys) for s, _ in specs if s.id in seq_bases]
    )
    probe = _series_probe(
        [f for f in (scalar_long, seq_long) if f is not None], cadence, keys
    )
    scalar_probe = [r for r in probe if r["base_id"] not in seq_bases]
    seq_probe = [r for r in probe if r["base_id"] in seq_bases]

    col_base: dict[str, str] = {}
    col_kind: dict[str, str] = {}

    wide: DataFrame | None = None
    list_conform: dict[str, int] = {}
    if scalar_long is not None:
        ids = _series_ids(scalar_probe)
        for sid in ids:
            col_base[sid] = sid.split("__", 1)[0]
        # ---- bucket multiplicity: a series whose buckets hold >1 observation
        # becomes a fixed-length list column, time-ordered within the bucket
        # (reference operations/artifacts/series.py:336-367 _assemble_values:
        # len != 1 → list; artifacts/utils.py:54-82 enforces ONE kind and ONE
        # length per series). Plan-time decision from the series probe.
        multi_len = {r["series_id"]: r["hi"] for r in scalar_probe if r["hi"] > 1}
        for r in scalar_probe:
            if r["hi"] > 1 and r["lo"] != r["hi"]:
                raise ValueError(
                    f"Series {r['series_id']!r} mixes bucket multiplicities "
                    f"{r['lo']} and {r['hi']} (the metadata contract requires "
                    "one kind and one fixed list length per series)"
                )
        wide = assemble_samples(
            scalar_long,
            cadence,
            keys,
            series_ids=ids,
            sequence_ids=sorted(multi_len),
        )
        # absent buckets of list-kind series conform to [null]*length —
        # applied after lattice densification (below) so lattice-only rows
        # conform too
        list_conform.update(multi_len)

    if seq_long is not None:
        ids = _series_ids(seq_probe)
        for sid in ids:
            col_base[sid] = sid.split("__", 1)[0]
        seq_wide = assemble_samples(seq_long, cadence, keys, series_ids=ids)
        wide = (
            seq_wide
            if wide is None
            else wide.join(seq_wide, on=["time", *keys], how="full_outer")
        )
        # conform: a bucket with no full window materializes [null]*size, not
        # a scalar null (reference transforms/vector/conform.py:10-75 list
        # handling, asserted by the identity-alignment fixture) — deferred to
        # after lattice densification like the multi-value conformance
        size_of_base = {
            s.id: s.sequence.size for s, _ in specs if s.sequence is not None
        }
        for sid in ids:
            list_conform[sid] = size_of_base[col_base[sid]]

    assert wide is not None
    # explicit argument wins; else the dataset.yaml `metadata:` section
    if window_mode is None and cfg.metadata is not None:
        window_mode = cfg.metadata.window_mode
    if window_mode is not None:
        wide = _window_clip(wide, probe, window_mode)
    # ---- rectangular key lattice (reference sample/input.py:37 rectangular
    # =True on every serve: pipelines/sample/keys.py:16-121 dense lattice) —
    # every cadence tick inside each sample key's observed [first, last]
    # domain emits a sample row, absent cells as nulls. The grid derives
    # from the (already window-clipped) assembled samples, matching the
    # metadata sample-domain plan.
    wide = rectangular_samples(wide, cadence, keys)
    if list_conform:
        wide = wide.withColumns(
            {
                sid: F.coalesce(
                    F.col(sid),
                    F.array(*[F.lit(None).cast("double") for _ in range(length)]),
                )
                for sid, length in sorted(list_conform.items())
            }
        )
    kind_of = {s.id: k for s, k in specs}
    for col, base in col_base.items():
        col_kind[col] = kind_of[base]
    feature_cols = [c for c, k in col_kind.items() if k == "feature"]
    target_cols = [c for c, k in col_kind.items() if k == "target"]

    # ---- postprocess: vertical column selection, then horizontal row drop --- #
    if cfg.postprocess is not None:
        if cfg.postprocess.columns is not None:
            pc = cfg.postprocess.columns
            if pc.features is not None and feature_cols:
                wide, feature_cols = select_columns_by_coverage(
                    wide, feature_cols, pc.features.threshold
                )
            if pc.targets is not None and target_cols:
                wide, target_cols = select_columns_by_coverage(
                    wide, target_cols, pc.targets.threshold
                )
        if cfg.postprocess.samples is not None:
            ps = cfg.postprocess.samples
            if ps.features is not None and feature_cols:
                wide = drop_rows_by_coverage(wide, feature_cols, ps.features.threshold)
            if ps.targets is not None and target_cols:
                wide = drop_rows_by_coverage(wide, target_cols, ps.targets.threshold)

    # ---- split labeling ---------------------------------------------------- #
    fold_plan: dict[str, dict[str, list[str]]] = {}
    if cfg.split is not None:
        if cfg.split.mode == "time":
            intervals = [
                (iv.id, parse_datetime_utc(iv.until) if iv.until else None)
                for iv in cfg.split.intervals
            ]
            wide = wide.withColumn(LABEL, time_split_label("time", intervals))
        else:
            key_col = F.concat_ws(
                "|", F.col("time").cast("string"), *[F.col(k) for k in keys]
            )
            wide = wide.withColumn(
                LABEL, hash_split_label(key_col, cfg.split.ratios, cfg.split.seed)
            )
        for fold in cfg.split.folds:
            fold_plan[fold.id] = {
                "train": list(fold.train),
                "validation": list(fold.validation),
                "test": list(fold.test),
            }
    else:
        wide = wide.withColumn(LABEL, F.lit("train"))

    # ---- leakage-free scaler fit (train labels only, per fold) ------------- #
    scaled_bases = {s.id for s, _ in specs if s.scale}
    stats: DataFrame | None = None
    if scaled_bases and scalar_long is not None:
        # label long rows by the same split rule (applied to raw series times)
        if cfg.split is not None and cfg.split.mode == "time":
            label_col = time_split_label("time", intervals)
        elif cfg.split is not None:
            key_col = F.concat_ws(
                "|", F.col("time").cast("string"), *[F.col(k) for k in keys]
            )
            label_col = hash_split_label(key_col, cfg.split.ratios, cfg.split.seed)
        else:
            label_col = F.lit("train")
        # select which series get scaled by BASE id; fit statistics per FULL
        # series id so each partition suffix owns its own mean/std
        labeled = scalar_long.filter(F.col("base_id").isin(list(scaled_bases))).withColumn(
            LABEL, label_col
        )
        if fold_plan:
            per_fold = []
            for fold_id, roles in fold_plan.items():
                s = fit_scaler(
                    labeled,
                    id_col="series_id",
                    train_filter=F.col(LABEL).isin(roles["train"]),
                ).withColumn("fold", F.lit(fold_id))
                per_fold.append(s)
            stats = _union_all(per_fold)
        else:
            stats = fit_scaler(
                labeled, id_col="series_id", train_filter=F.col(LABEL) == "train"
            )

    return DatasetBuild(
        samples=wide,
        feature_columns=sorted(feature_cols),
        target_columns=sorted(target_cols),
        column_base=col_base,
        scaler_stats=stats,
        fold_plan=fold_plan,
        scaled_bases=scaled_bases,
    )
