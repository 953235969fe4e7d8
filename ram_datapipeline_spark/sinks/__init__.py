"""Result sinks (SURVEY §2.1 K1-K7).

The reference fans results out to four sinks per run — Postgres normalized
tables (transactional, DB-returned keys, `app/index.js:122-135`), CSV
(`:565-604`), grouped JSON (`:550-558`), GeoJSON (`:519-543`) — plus scalar
metadata updates (`:153-156,506-511`) and prefix cleanup
(`ram-vt/app/s3/utils.js:32-72`). Spark-first restatement:

- K1's transaction + RETURNING-id dependency becomes two *independent*
  appends linked by pre-generated surrogate keys (SURVEY §7 hard point 3) —
  no DB round-trip on the write path, so 1000 executors append in parallel.
- K2's dynamic CSV columns (poi.<type> dotted paths derived from the first
  row, `index.js:596-601`) become an explicit distinct-then-pivot: the
  column set is computed from the DATA (one tiny distinct over poi types),
  then the flatten is a static projection Catalyst can prune.
- K4's single GeoJSON document becomes newline-delimited features
  (GeoJSONSeq) — the only FeatureCollection form that writes in parallel;
  a wrapper for the one-file form exists for small results.
- K7's list+delete prefix cleanup is simply `mode("overwrite")`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def with_surrogate_keys(results: DataFrame, key_col: str = "result_id") -> DataFrame:
    """Pre-generate parent keys (K1 replacement for `RETURNING id`).

    `monotonically_increasing_id` is unique per job (partition-id high bits,
    per-partition counter low bits) and never leaves the executors —
    unlike the reference's transactional round-trip (`index.js:122-135`)
    which serializes every batch through one Postgres connection.
    """
    return results.withColumn(key_col, F.monotonically_increasing_id())


def _is_checkpoint(df: DataFrame) -> bool:
    """Is ``df`` a scan of materialized blocks (a checkpoint)?"""
    plan = df._jdf.queryExecution().analyzed()
    return plan.getClass().getSimpleName() == "LogicalRDD"


def split_results_normalized(
    results: DataFrame,
    poi_map_col: str = "poi",
    key_col: str = "result_id",
) -> tuple[DataFrame, DataFrame]:
    """One nested frame → (parent, child) pair mirroring the reference's
    `results` / `results_poi` tables (`index.js:104-120`).

    Parent: every non-map column + the surrogate key. Child: the per-origin
    `poi` map exploded to (result_id, poi_type, eta_s) rows (SURVEY A3).
    Null map entries (unreachable) survive the explode as null eta — same
    semantics as `o.poi[k] === null` handling at `index.js:111-114`.

    Key assignment must happen exactly once — the engine's analog of the
    reference serializing through `RETURNING id` (index.js:122-135):
    parent and child are written by separate jobs, and both must see the
    same key for the same logical row. ``monotonically_increasing_id``
    is a function of the physical row layout (partition id, position in
    partition), so:

    - when ``results`` is already a checkpoint (its analyzed plan is a
      ``LogicalRDD``, e.g. from ``localCheckpoint``), its partitions and
      their row order are fixed blocks that every job re-reads the same
      way, and the keys are assigned over them directly — no extra job;
    - otherwise the keyed frame is MATERIALIZED (localCheckpoint) before
      splitting: a shuffle upstream does not reproduce its row layout
      run-to-run, and without the materialization the two writes can
      assign DIFFERENT keys to the same logical row, silently breaking
      the FK relation (caught by the ``k1_normalized_roundtrip`` gate
      re-joining the written tables).
    """
    keyed = with_surrogate_keys(results, key_col)
    if not _is_checkpoint(results):
        keyed = keyed.localCheckpoint()
    parent = keyed.drop(poi_map_col)
    child = keyed.select(
        key_col, F.explode_outer(poi_map_col).alias("poi_type", "eta_s")
    )
    return parent, child


def write_results_normalized(
    results: DataFrame,
    parent_path: str,
    child_path: str,
    poi_map_col: str = "poi",
    mode: str = "append",
    partition_by: list[str] | None = None,
) -> None:
    """K1: two independent appends (parquet here; ``write_results_jdbc``
    below is the exercised database variant — the plan is identical either
    way).

    ``partition_by`` (e.g. ``["aa_id"]``) lays the parent out hive-style so
    per-admin-area readers prune directories instead of scanning the world —
    the storage analog of the reference's per-area result grouping
    (index.js:550-558)."""
    parent, child = split_results_normalized(results, poi_map_col)
    w = parent.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(parent_path)
    child.write.mode(mode).parquet(child_path)


def write_results_jdbc(
    results: DataFrame,
    url: str,
    parent_table: str,
    child_table: str,
    poi_map_col: str = "poi",
    mode: str = "append",
    properties: dict[str, str] | None = None,
) -> None:
    """K1 over JDBC — the reference's actual sink (Postgres ``results`` /
    ``results_poi``, index.js:104-135), through Spark's batched JDBC
    writer: each partition opens one connection and inserts in batches,
    so the write parallelism is the data partitioning, not one serialized
    driver connection. Exercised end-to-end against embedded Derby in
    tests/test_sinks_sources.py (any JDBC url + driver works the same
    way; surrogate keys are pre-generated, no RETURNING round-trip)."""
    parent, child = split_results_normalized(results, poi_map_col)
    props = dict(properties or {})
    parent.write.mode(mode).jdbc(url, parent_table, properties=props)
    child.write.mode(mode).jdbc(url, child_table, properties=props)


def poi_types_of(results: DataFrame, poi_map_col: str = "poi") -> list[str]:
    """The dynamic column set (K2/F9): distinct POI types present in the
    data. One tiny aggregate over exploded keys — the plan-time collect the
    dynamic-schema sinks need (SURVEY §7 hard point 4); its input is the
    map keys only, never the rows."""
    rows = (
        results.select(F.explode(F.map_keys(F.col(poi_map_col))).alias("t"))
        .distinct()
        .collect()
    )
    return sorted(r["t"] for r in rows)


def flatten_poi_map(
    results: DataFrame,
    poi_types: list[str] | None = None,
    poi_map_col: str = "poi",
    prefix: str = "eta_",
) -> DataFrame:
    """Map column → one `eta_<type>` column per POI type (reference CSV
    shape, `index.js:582-603`; GeoJSON props `index.js:537-539`). Static
    projection once the type list is known — prunable, codegen-friendly."""
    if poi_types is None:
        poi_types = poi_types_of(results, poi_map_col)
    cols = [c for c in results.columns if c != poi_map_col]
    etas: list[Column] = [
        F.col(poi_map_col).getItem(t).alias(f"{prefix}{t}") for t in poi_types
    ]
    return results.select(*cols, *etas)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """K2: header CSV. Flatten any map column first (`flatten_poi_map`)."""
    df.write.mode(mode).option("header", "true").csv(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Columnar ORC sink (zlib, Spark's built-in writer) — the
    interchange format for Hive-era warehouse consumers the way K2's CSV
    serves spreadsheet consumers. ORC files carry per-stripe min/max
    statistics, so a re-read with a predicate prunes stripes the same
    way parquet prunes row groups; the round-trip gate proves the
    columnar re-encode is value-lossless (including doubles, which CSV
    only survives via shortest-repr printing)."""
    df.write.mode(mode).orc(path)


def grouped_json(
    results: DataFrame, group_keys: list[str], payload_cols: list[str]
) -> DataFrame:
    """K3 shape: one row per group with a `results` array of structs —
    the reference's per-admin-area JSON document (`index.js:550-558`)."""
    payload = F.collect_list(F.struct(*payload_cols)).alias("results")
    return results.groupBy(*group_keys).agg(payload)


def write_json_grouped(
    results: DataFrame,
    path: str,
    group_keys: list[str],
    payload_cols: list[str],
    mode: str = "overwrite",
) -> None:
    grouped_json(results, group_keys, payload_cols).write.mode(mode).json(path)


def geojson_point_features(
    df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    prop_cols: list[str] | None = None,
) -> DataFrame:
    """K4: per-row GeoJSON Point Feature strings (`index.js:519-543`).

    Property names keep their column names (the reference emits
    `eta-<type>`; our flattened columns are `eta_<type>` — same content,
    SQL-safe naming)."""
    props = prop_cols if prop_cols is not None else [
        c for c in df.columns if c not in (lon_col, lat_col)
    ]
    feature = F.to_json(
        F.struct(
            F.lit("Feature").alias("type"),
            F.struct(
                F.lit("Point").alias("type"),
                F.array(F.col(lon_col), F.col(lat_col)).alias("coordinates"),
            ).alias("geometry"),
            F.struct(*[F.col(c) for c in props]).alias("properties"),
        )
    )
    return df.select(feature.alias("feature_json"))


def write_geojson_seq(
    df: DataFrame,
    path: str,
    lon_col: str = "lon",
    lat_col: str = "lat",
    prop_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """K4, scalable form: newline-delimited Features (RFC 8142 GeoJSONSeq).
    Every partition writes its own shard; readers (incl. our S5 source with
    multiline=False) stream it back."""
    geojson_point_features(df, lon_col, lat_col, prop_cols).write.mode(
        mode
    ).text(path)


def geojson_feature_collection(
    df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    prop_cols: list[str] | None = None,
) -> str:
    """K4, reference-exact form: ONE FeatureCollection document. Collects —
    only for bounded result sets (the reference's own output is one
    in-memory JSON doc, `index.js:519-543`, so parity here is inherently
    driver-sized); use `write_geojson_seq` at scale."""
    feats = geojson_point_features(df, lon_col, lat_col, prop_cols).collect()
    body = ",".join(r["feature_json"] for r in feats)
    return '{"type":"FeatureCollection","features":[' + body + "]}"


def append_metadata_event(
    spark: SparkSession,
    path: str,
    payload: dict[str, str],
    seq: int | None = None,
) -> None:
    """K5: scalar metadata updates (`res_gen_at`, `updated_at`,
    `scenarios_files` row, reference `index.js:153-156,506-511`) as an
    append-only event row — last-write-wins replaces in-place UPDATE,
    which object stores don't do.

    ``seq``: explicit monotone event sequence number; callers that own an
    ordered write path (the operation-log pattern) pass it so the
    last-write-wins fold is deterministic and replayable. When omitted the
    wall-clock ``updated_at`` is the only ordering (the reference's own
    semantic — its `updated_at` column IS a wall clock)."""
    # Arrow local-rows path (session.local_rows_df): a plain
    # createDataFrame(list) is a Python-RDD-backed relation, and every
    # parquet APPEND job executing one blocks on a fresh Python worker
    # round-trip — ~4 s per tiny write on local[32], linear in core count
    # (the r13 operation-log finding; guide §4: eliminate the Python
    # boundary). The event row ships as an Arrow batch instead.
    from ram_datapipeline_spark.session import local_rows_df

    row = [tuple(str(v) for v in payload.values())]
    schema = ", ".join(f"{c} string" for c in payload.keys())
    df = (
        local_rows_df(spark, row, schema)
        .withColumn("updated_at", F.current_timestamp())
        .withColumn("seq", F.lit(seq).cast("long"))
    )
    df.write.mode("append").parquet(path)


def latest_metadata(
    spark: SparkSession,
    path: str,
    key_cols: list[str],
) -> DataFrame:
    """K5 read side: fold the append-only metadata event log to its
    current state — the newest row per key (the UPDATE the reference's
    `knex(...).update()` performs in place, `index.js:153-156`, replayed
    as a latest-per-key aggregate). Ordering is (seq, updated_at): the
    explicit sequence when the writer supplied one, wall clock otherwise
    — a log should use ONE mode consistently (seq-less events rank below
    any sequenced event, deterministically, never NULL-order-dependent).

    One hash aggregation: ONE ``max_by`` picks the whole winning event
    (never mixing value columns from different events on ordering ties)
    — map-side partial, no window/sort, so the fold scales to event logs
    of any size."""
    ev = spark.read.parquet(path)
    val_cols = [
        c for c in ev.columns
        if c not in set(key_cols) | {"updated_at", "seq"}
    ]
    ord_col = F.struct(
        F.coalesce(F.col("seq"), F.lit(-(1 << 62))).alias("s"),
        F.col("updated_at").alias("t"),
    )
    win = F.max_by(F.struct(*[F.col(c) for c in val_cols]), ord_col)
    agg = ev.groupBy(*key_cols).agg(win.alias("_w"))
    return agg.select(
        *key_cols, *[F.col("_w")[c].alias(c) for c in val_cols]
    )


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
    target_file_partitions: int | None = None,
) -> None:
    """Hive-partitioned parquet layout: directory-per-value on
    ``partition_cols`` so downstream scans with a partition predicate
    never open non-matching files (partition pruning — the data-layout
    half of the 100 TB story; column pruning + row-group pushdown are the
    in-file half).

    ``target_file_partitions`` repartitions on the partition columns
    first: one shuffle that (a) co-locates each output directory's rows in
    few tasks — avoiding the tasks × partitions small-file explosion —
    and (b) is exactly the compaction knob when re-layering an existing
    table. Prune proof: tests/test_sinks_sources.py asserts the read
    plan's PartitionFilters and file counts."""
    w = df
    if target_file_partitions is not None:
        w = df.repartition(target_file_partitions, *partition_cols)
    w.write.mode(mode).partitionBy(*partition_cols).parquet(path)
