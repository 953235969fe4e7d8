"""Sink round-trip gates (K2/K3/K4 into the hard signal — VERDICT r3 #7).

Each query materializes the reference's output shape through the REAL sink
(write to storage), reads the files back through the engine's own reader,
and returns the re-read rows. The DuckDB oracle replays the flatten/group
logic directly on the fixture tables — so a hash match proves the whole
write → read cycle lossless AND the flatten/group semantics correct:

- K2 (``k2_csv_roundtrip``): dynamic-column CSV — the reference derives
  CSV columns from the data (`ram-analysis/app/index.js:565-604`); here
  ``poi_types_of`` + ``flatten_poi_map`` + header CSV, re-read with the
  written schema.
- K3 (``k3_json_roundtrip``): per-admin-area grouped JSON documents
  (`index.js:550-558`) — grouped write, re-read, exploded back to rows
  (array order is write-nondeterministic; the exploded compare is
  order-insensitive, which is exactly the document's semantic).
- K4 (``k4_geojson_roundtrip``): GeoJSONSeq Point features with
  ``eta_<type>`` properties (`index.js:519-543`) — written by the sink,
  re-parsed from the JSON text (coordinates survive bit-exact because
  Spark prints shortest-round-trip doubles).

ETAs are rounded to whole seconds before sinking (`index.js:111-114`
``Math.round``; engine-wide convention floor(x+0.5) so every SQL engine
rounds identically). Overwrite mode on every write is the K7
prefix-cleanup semantic. Writes land under the system temp dir, keyed by
sf_dir, so repeated gate runs are self-cleaning.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ram_datapipeline_spark import ram_domain, sinks
from ram_datapipeline_spark.catalog import load_tables
from ram_datapipeline_spark.operators import eta as eta_ops
from ram_datapipeline_spark.registry import query

_POI_TYPES = ("bank", "hospital", "school")  # sorted, as poi_types_of yields


def _rt_path(name: str, sf_dir: str) -> str:
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return os.path.join(tempfile.gettempdir(), f"ram_sink_rt_{name}_{tag}")


def _results_with_poi_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's result-record shape: one row per origin with a
    ``poi`` map {type → rounded seconds} (tasks.js:126-154)."""
    t = load_tables(spark, sf_dir)
    o = ram_domain.origins(t["customer"])
    p = ram_domain.pois(t["supplier"])
    eta = eta_ops.nearest_poi_eta(
        o, p, origin_keys=["origin_id", "admin_id", "lon", "lat"]
    ).withColumn("eta_i", F.floor(F.col("eta_s") + 0.5))
    return eta.groupBy("origin_id", "admin_id", "lon", "lat").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("poi_type", "eta_i")))
        ).alias("poi")
    )


_FLAT_ETA_SQL = f"""
    WITH o AS ({ram_domain.ORIGINS_SQL}), p AS ({ram_domain.POIS_SQL}),
    eta AS (
      SELECT o.origin_id, o.admin_id, o.lon, o.lat, p.poi_type,
             CAST(floor(min(sqrt((o.lon - p.lon) * (o.lon - p.lon)
                                 + (o.lat - p.lat) * (o.lat - p.lat))
                             * 111.0 / 120.0 * 3600.0) + 0.5) AS BIGINT) AS eta_i
      FROM o CROSS JOIN p
      GROUP BY o.origin_id, o.admin_id, o.lon, o.lat, p.poi_type
    ),
    flat AS (
      SELECT origin_id, admin_id, lon, lat,
             min(CASE WHEN poi_type = 'bank' THEN eta_i END) AS eta_bank,
             min(CASE WHEN poi_type = 'hospital' THEN eta_i END) AS eta_hospital,
             min(CASE WHEN poi_type = 'school' THEN eta_i END) AS eta_school
      FROM eta GROUP BY origin_id, admin_id, lon, lat
    )
"""


@query(
    "k2_csv_roundtrip",
    oracle=_FLAT_ETA_SQL
    + "SELECT origin_id, admin_id, lon, lat, eta_bank, eta_hospital,"
    "         eta_school FROM flat",
    survey="K2+K7 CSV sink round-trip, dynamic columns (index.js:565-604)",
    tags=("sink",),
)
def q_k2_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-column CSV: poi map → ``eta_<type>`` columns discovered
    from the data, header CSV written (overwrite = K7 cleanup), re-read
    with the written schema. Hash-matching the SQL replay proves the
    flatten AND the text round-trip (shortest-repr doubles) lossless."""
    results = _results_with_poi_map(spark, sf_dir)
    flat = sinks.flatten_poi_map(results)
    path = _rt_path("k2", sf_dir)
    sinks.write_csv(flat, path)
    return (
        spark.read.schema(flat.schema)
        .option("header", "true")
        .csv(path)
    )


@query(
    "k3_json_roundtrip",
    oracle=_FLAT_ETA_SQL
    + "SELECT admin_id, origin_id, eta_bank, eta_hospital, eta_school"
    "  FROM flat",
    survey="K3+K7 grouped-JSON sink round-trip (index.js:550-558)",
    tags=("sink",),
)
def q_k3_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-admin grouped JSON documents written by the sink, re-read and
    exploded back to rows. The group's array order is write-time
    nondeterministic — exactly why the gate compares the exploded set."""
    results = _results_with_poi_map(spark, sf_dir)
    flat = sinks.flatten_poi_map(results).select(
        "admin_id", "origin_id", "eta_bank", "eta_hospital", "eta_school"
    )
    path = _rt_path("k3", sf_dir)
    sinks.write_json_grouped(
        flat,
        path,
        group_keys=["admin_id"],
        payload_cols=["origin_id", "eta_bank", "eta_hospital", "eta_school"],
    )
    grouped_schema = (
        "admin_id int, results array<struct<origin_id:bigint,"
        "eta_bank:bigint,eta_hospital:bigint,eta_school:bigint>>"
    )
    back = spark.read.schema(grouped_schema).json(path)
    return back.select(
        "admin_id", F.explode("results").alias("r")
    ).select("admin_id", "r.*")


@query(
    "k4_geojson_roundtrip",
    oracle=_FLAT_ETA_SQL
    + "SELECT origin_id, lon, lat, eta_bank, eta_hospital, eta_school"
    "  FROM flat",
    survey="K4+K7 GeoJSONSeq sink round-trip (index.js:519-543)",
    tags=("sink",),
)
def q_k4_geojson_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point features with eta properties written as GeoJSONSeq (RFC 8142,
    one Feature per line — the scale form of the reference's single
    FeatureCollection), re-parsed from the JSON text: coordinates and
    properties must survive the text hop bit-exact."""
    results = _results_with_poi_map(spark, sf_dir)
    flat = sinks.flatten_poi_map(results).select(
        "origin_id", "lon", "lat", "eta_bank", "eta_hospital", "eta_school"
    )
    path = _rt_path("k4", sf_dir)
    sinks.write_geojson_seq(
        flat,
        path,
        prop_cols=["origin_id", "eta_bank", "eta_hospital", "eta_school"],
    )
    feature_schema = (
        "type string, geometry struct<type:string,coordinates:array<double>>,"
        " properties struct<origin_id:bigint,eta_bank:bigint,"
        "eta_hospital:bigint,eta_school:bigint>"
    )
    back = spark.read.schema(feature_schema).json(path)
    return back.select(
        F.col("properties.origin_id").alias("origin_id"),
        F.element_at("geometry.coordinates", 1).alias("lon"),
        F.element_at("geometry.coordinates", 2).alias("lat"),
        F.col("properties.eta_bank").alias("eta_bank"),
        F.col("properties.eta_hospital").alias("eta_hospital"),
        F.col("properties.eta_school").alias("eta_school"),
    )


@query(
    "j_bucketed_colocated",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           count(*) AS n_orders,
           CAST(sum(CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    survey=(
        "bucketed co-located join in the hard signal: both sides "
        "hash-bucketed + sorted at write time, the equi-join runs with "
        "ZERO exchange on either side (asserted on the executed plan) — "
        "the amortized answer for keys joined every run (100 TB join "
        "discipline, operators/skew.py)"
    ),
    tags=("sink", "join", "skew"),
)
def q_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment order counts through BUCKETED tables: orders and customer
    are written bucketed(8) + sorted on the join key, re-read as tables,
    and joined under a disabled broadcast threshold; the builder asserts
    the executed join plan contains a SortMergeJoin and NO
    hash-partitioning Exchange (a silent re-shuffle would defeat the
    point — fail loudly instead). The oracle is the plain join."""
    from ram_datapipeline_spark.operators import skew

    t = load_tables(spark, sf_dir)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = _rt_path("bucketed", sf_dir)
    skew.write_bucketed(
        t["orders"].select("o_orderkey", "o_custkey", "o_totalprice"),
        f"b_orders_{tag}", os.path.join(base, "orders"), ["o_custkey"], 8,
    )
    skew.write_bucketed(
        t["customer"].select("c_custkey", "c_mktsegment"),
        f"b_customer_{tag}", os.path.join(base, "customer"),
        ["c_custkey"], 8,
    )
    j = spark.table(f"b_orders_{tag}").join(
        spark.table(f"b_customer_{tag}"),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = j._jdf.queryExecution().executedPlan().toString()
        if "SortMergeJoin" not in plan or "Exchange hashpartitioning" in plan:
            raise AssertionError(
                "bucketed join plan re-introduced an exchange:\n" + plan
            )
        # EXECUTE the aggregate while the broadcast threshold is still
        # disabled (localCheckpoint materializes here), so the asserted
        # zero-exchange SortMergeJoin is the plan that actually ran —
        # restoring the conf first would let the returned frame re-plan
        # with a broadcast join at collection time
        agg = j.groupBy(F.col("c_mktsegment").alias("segment")).agg(
            F.count("*").alias("n_orders"),
            F.sum(
                F.expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)")
            ).alias("cents"),
        )
        return agg.localCheckpoint()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


@query(
    "ram_full_job",
    oracle=f"""
    WITH o AS ({ram_domain.ORIGINS_SQL}), p AS ({ram_domain.POIS_SQL}),
    a AS ({ram_domain.ADMIN_AREAS_SQL}),
    ind AS (SELECT c_custkey AS origin_id,
                   CAST(c_acctbal AS DOUBLE) AS pop FROM customer),
    ia AS (
      SELECT o.origin_id, a.aa_id, o.lon, o.lat, ind.pop
      FROM o JOIN a ON o.lon >= a.xmin AND o.lon < a.xmax
                   AND o.lat >= a.ymin AND o.lat < a.ymax
           JOIN ind ON ind.origin_id = o.origin_id
    ),
    eta AS (
      SELECT ia.origin_id, ia.aa_id, p.poi_type,
             min(CASE WHEN sqrt((ia.lon - p.lon) * (ia.lon - p.lon)
                                + (ia.lat - p.lat) * (ia.lat - p.lat))
                           * 111.0 / 120.0 * 3600.0 <= 1800.0
                      THEN sqrt((ia.lon - p.lon) * (ia.lon - p.lon)
                                + (ia.lat - p.lat) * (ia.lat - p.lat))
                           * 111.0 / 120.0 * 3600.0 END) AS eta_s
      FROM ia CROSS JOIN p
      GROUP BY ia.origin_id, ia.aa_id, p.poi_type
    )
    SELECT ia.origin_id, ia.aa_id, ia.lon, ia.lat, ia.pop,
           min(CASE WHEN poi_type = 'bank' THEN eta_s END) AS eta_bank,
           min(CASE WHEN poi_type = 'hospital' THEN eta_s END) AS eta_hospital,
           min(CASE WHEN poi_type = 'school' THEN eta_s END) AS eta_school
    FROM ia JOIN eta ON ia.origin_id = eta.origin_id AND ia.aa_id = eta.aa_id
    GROUP BY ia.origin_id, ia.aa_id, ia.lon, ia.lat, ia.pop
    """,
    survey=(
        "§3.1 END-TO-END pipeline parity in the hard signal: the full "
        "ram-analysis job (S1-S5 inputs → A2 indicator pivot → J2 area "
        "join → J4/A1 matrix+min with the maxTime cutoff → result "
        "assembly → ALL K1-K5 sinks + operation log), returning the CSV "
        "sink re-read (index.js:36-191)"
    ),
    tags=("sink", "pipeline", "flagship"),
)
def q_ram_full_job(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs ``plans.run_ram_pipeline`` — the whole reference lifecycle in
    one DAG, including the operation log and all four data sinks under a
    temp prefix (overwrite = K7) — then reads the CSV sink back and
    returns it. The oracle replays indicator pivot, half-open rect
    containment, the 1800 s unreachable cutoff (null ETAs survive the
    CSV round trip as nulls), and the eta_<type> flatten; a hash match
    is pipeline parity end to end, not per-operator."""
    import shutil

    from ram_datapipeline_spark.plans import run_ram_pipeline

    out = _rt_path("ramjob", sf_dir)
    shutil.rmtree(out, ignore_errors=True)
    dfs = run_ram_pipeline(spark, sf_dir, out, selected_aa_ids=None)
    return (
        spark.read.schema(dfs["flat"].schema)
        .option("header", "true")
        .csv(os.path.join(out, "csv"))
    )


@query(
    "k1_normalized_roundtrip",
    oracle=_FLAT_ETA_SQL
    + """
    SELECT f.origin_id, f.admin_id, pt.poi_type,
           CASE pt.poi_type WHEN 'bank' THEN f.eta_bank
                            WHEN 'hospital' THEN f.eta_hospital
                            ELSE f.eta_school END AS eta_i
    FROM flat f CROSS JOIN (VALUES ('bank'), ('hospital'), ('school')) pt(poi_type)
    """,
    survey=(
        "K1+K7: normalized two-table sink round-trip — parent/child "
        "parquet with pre-generated surrogate keys, re-read and re-joined "
        "on the FK (index.js:104-135)"
    ),
    tags=("sink",),
)
def q_k1_normalized_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's transactional results/results_poi insert as two
    parquet appends: the poi map splits into a parent row + child
    (result_id, poi_type, eta) rows keyed by a pre-generated surrogate
    (the `RETURNING id` replacement). The gate re-reads BOTH tables and
    re-joins on the key — key VALUES are job-nondeterministic, but the
    reconstructed (origin, type, eta) relation must be exact, which is
    precisely the FK-integrity contract."""
    results = _results_with_poi_map(spark, sf_dir)
    base = _rt_path("k1", sf_dir)
    sinks.write_results_normalized(
        results,
        os.path.join(base, "results"),
        os.path.join(base, "results_poi"),
        mode="overwrite",
    )
    parent = spark.read.parquet(os.path.join(base, "results"))
    child = spark.read.parquet(os.path.join(base, "results_poi"))
    return parent.join(child, "result_id").select(
        "origin_id", "admin_id", "poi_type",
        F.col("eta_s").alias("eta_i"),
    )


@query(
    "s5_geojson_source",
    oracle=ram_domain.ORIGINS_SQL,
    survey=(
        "S5 in the hard signal: whole-document GeoJSON FeatureCollection "
        "source (getJSONFileContents, s3/utils.js:31-49 → index.js:289) — "
        "write the reference-exact document, re-read through the engine's "
        "multiline JSON reader, re-project points + dynamic properties"
    ),
    tags=("source", "sink"),
)
def q_s5_geojson_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Origins → ONE FeatureCollection document (the reference's wire
    format, built by the collect-form sink — driver-sized by the
    reference's own design) → S5 reader (`read_geojson_points`,
    multiLine) → (origin_id, admin_id, lon, lat) re-extracted from
    geometry + the dynamic properties bag. Hash-matching the origins
    view proves the full document write → parse → project cycle,
    including shortest-repr doubles through JSON text."""
    from ram_datapipeline_spark.sources.geojson import read_geojson_points

    t = load_tables(spark, sf_dir)
    o = ram_domain.origins(t["customer"])
    doc = sinks.geojson_feature_collection(
        o, prop_cols=["origin_id", "admin_id"]
    )
    path = _rt_path("s5", sf_dir) + ".geojson"
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(doc)
    os.replace(tmp, path)
    pts = read_geojson_points(spark, path, multiline=True)
    props = F.from_json(
        "properties_json", "struct<origin_id:bigint,admin_id:int>"
    )
    return pts.select(
        props["origin_id"].alias("origin_id"),
        props["admin_id"].alias("admin_id"),
        "lon",
        "lat",
    )


@query(
    "a7_operation_log",
    oracle="""
    WITH reg AS (
      SELECT r.r_regionkey AS rk, r.r_name AS rname, count(*) AS n
      FROM region r JOIN nation ON n_regionkey = r.r_regionkey
      GROUP BY r.r_regionkey, r.r_name
    )
    SELECT CAST(0 AS BIGINT) AS op_id, CAST(0 AS BIGINT) AS log_id,
           'start' AS code, '{"message": "Analysis started"}' AS data,
           'generate-analysis' AS name, 'complete' AS status
    UNION ALL
    SELECT 0, 1 + rk, 'process:region',
           '{"region": "' || rname || '", "n_nations": ' || CAST(n AS VARCHAR) || '}',
           'generate-analysis', 'complete'
    FROM reg
    UNION ALL
    SELECT 0, 6, 'success', '{"message": "Operation complete"}',
           'generate-analysis', 'complete'
    """,
    survey=(
        "A7 in the hard signal: operation/progress accounting — the "
        "reference's operations + operations_logs lifecycle "
        "(app/utils/operation.js:87-230) as append-only events, re-read "
        "and joined latest-status-per-op"
    ),
    tags=("sink", "streaming"),
)
def q_a7_operation_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full operation lifecycle against a fresh log root: start (status
    event + uniqueness guard), one progress event per region carrying a
    data-derived JSON payload, finish (success log + complete status).
    The gate re-reads BOTH tables and joins each log row with its
    operation's LATEST status (the W1 read the reference does with
    ORDER BY id DESC LIMIT 1) — ids, codes, payload JSON, and the status
    fold must all replay exactly."""
    import shutil

    from ram_datapipeline_spark.streaming import OperationLog

    t = load_tables(spark, sf_dir)
    base = _rt_path("a7", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    ol = OperationLog(spark, base)
    op = ol.start("generate-analysis", project_id=1, scenario_id=1)
    ol.log(op, "start", {"message": "Analysis started"})
    regions = sorted(
        (r["r_regionkey"], r["r_name"], r["n"])
        for r in t["region"]
        .join(t["nation"], F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_regionkey", "r_name")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    for rk, rname, n in regions:
        ol.log(op, "process:region", {"region": rname, "n_nations": int(n)})
    ol.finish(op)
    logs = spark.read.parquet(os.path.join(base, "operations_logs"))
    status = ol.current_status().select("op_id", "name", "status")
    return logs.join(status, "op_id").select(
        "op_id", "log_id", "code", "data", "name", "status"
    )


@query(
    "k5_metadata_roundtrip",
    oracle="""
    WITH reg AS (
      SELECT r.r_regionkey AS rk, r.r_name AS rname, count(*) AS n
      FROM region r JOIN nation ON n_regionkey = r.r_regionkey
      GROUP BY r.r_regionkey, r.r_name
    )
    SELECT CAST(rk AS BIGINT) AS project_id, 'res_gen_at' AS meta_key,
           CASE WHEN rk % 2 = 0 THEN 'rerun-' || rname
                ELSE 'run-' || rname END AS meta_value
    FROM reg
    UNION ALL
    SELECT CAST(rk AS BIGINT), 'scenarios_files',
           'nations=' || CAST(n AS VARCHAR)
    FROM reg
    """,
    survey=(
        "K5 in the hard signal: scalar metadata updates (`res_gen_at`, "
        "`scenarios_files` — reference index.js:153-156,506-511) as "
        "append-only events; the gate re-reads the log and folds "
        "last-write-wins, so a later append must REPLACE the earlier "
        "value exactly"
    ),
    tags=("sink",),
)
def q_k5_metadata_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5 end-to-end against a fresh metadata log: one `res_gen_at` event
    per project (region), a `scenarios_files` event carrying a
    data-derived value, then a RE-update of every even project's
    `res_gen_at` — the in-place UPDATE the reference issues, expressed as
    a newer append. The fold (`sinks.latest_metadata`, one max_by
    aggregate) must surface exactly the newest value per (project, key);
    the oracle re-derives the surviving state from `region`/`nation`
    directly, so a stale or duplicated row breaks the hash."""
    import shutil

    t = load_tables(spark, sf_dir)
    base = _rt_path("k5", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    regions = sorted(
        (r["rk"], r["rname"], r["n"])
        for r in t["region"]
        .join(t["nation"], F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_regionkey").alias("rk"),
                 F.col("r_name").alias("rname"))
        .agg(F.count("*").alias("n"))
        .collect()
    )
    seq = 0
    for rk, rname, n in regions:
        sinks.append_metadata_event(
            spark, base,
            {"project_id": str(rk), "meta_key": "res_gen_at",
             "meta_value": f"run-{rname}"},
            seq=seq,
        )
        seq += 1
        sinks.append_metadata_event(
            spark, base,
            {"project_id": str(rk), "meta_key": "scenarios_files",
             "meta_value": f"nations={n}"},
            seq=seq,
        )
        seq += 1
    for rk, rname, _ in regions:
        if rk % 2 == 0:
            sinks.append_metadata_event(
                spark, base,
                {"project_id": str(rk), "meta_key": "res_gen_at",
                 "meta_value": f"rerun-{rname}"},
                seq=seq,
            )
            seq += 1
    cur = sinks.latest_metadata(spark, base, ["project_id", "meta_key"])
    return cur.select(
        F.col("project_id").cast("long").alias("project_id"),
        "meta_key",
        "meta_value",
    )


@query(
    "k_partitioned_prune",
    oracle="""
    SELECT o_orderpriority AS priority,
           count(*) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS cents
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '3-MEDIUM')
    GROUP BY o_orderpriority
    """,
    survey=(
        "hive-partitioned layout in the hard signal: directory-per-value "
        "write (the data-layout half of the 100 TB story) → re-read with "
        "a partition predicate → PartitionFilters asserted on the "
        "executed plan, so non-matching directories are never opened"
    ),
    tags=("sink", "scan"),
)
def q_k_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round trip through ``sinks.write_partitioned``: orders laid out
    directory-per-priority (with the compaction repartition, so each
    directory holds few files instead of tasks × partitions shards),
    re-read with an IN-list partition predicate. The builder asserts the
    scan's PartitionFilters carry the predicate — a layout or reader
    regression that silently re-scans every directory fails loudly here,
    not at 100 TB. The oracle replays the filtered aggregate on the
    source table, so the write → prune → read cycle must also be
    lossless."""
    t = load_tables(spark, sf_dir)
    base = _rt_path("kprune", sf_dir)
    sinks.write_partitioned(
        t["orders"].select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
        ),
        base,
        ["o_orderpriority"],
        target_file_partitions=4,
    )
    back = spark.read.parquet(base).filter(
        F.col("o_orderpriority").isin("1-URGENT", "3-MEDIUM")
    )
    plan = back._jdf.queryExecution().executedPlan().toString()
    tail = plan.split("PartitionFilters: [", 1)
    if len(tail) < 2 or "o_orderpriority" not in tail[1][:300]:
        raise AssertionError(
            "partitioned scan lost its PartitionFilters:\n" + plan
        )
    return back.groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.count("*").alias("n_orders"),
        F.sum(
            F.expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)")
        ).alias("cents"),
    )


def _zprune_oracle() -> str:
    from ram_datapipeline_spark.operators.layout import morton_key_sql

    z = morton_key_sql(["x", "y"], bits=10)
    return f"""
    WITH pts AS (
      SELECT event_id % 1024 AS x, user_id % 1024 AS y FROM events
    ),
    keyed AS (SELECT x, y, {z} AS z FROM pts)
    SELECT count(*) AS n,
           CAST(sum(x) AS BIGINT) AS sum_x,
           CAST(sum(y) AS BIGINT) AS sum_y,
           min(z) AS min_z, max(z) AS max_z
    FROM keyed
    WHERE x BETWEEN 100 AND 300 AND y BETWEEN 200 AND 330
    """


@query(
    "k_zorder_prune_roundtrip",
    oracle=_zprune_oracle(),
    survey=(
        "Z-order layout end to end: curve-bucketed directory write → "
        "2-D rectangle predicate mapped to an exact bucket prune list "
        "(6 of 64 directories opened) → lossless re-read (north star — "
        "the scan-skipping payoff of multi-dimensional clustering)"
    ),
    tags=("sink", "layout"),
)
def q_k_zorder_prune_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events written directory-per-z-bucket (top 6 Morton bits), then a
    2-D rectangle query answered by opening ONLY the buckets the curve
    maps the rectangle to — ``zorder_buckets_for_box`` computes the
    exact 6-of-64 prune list in driver arithmetic, and the builder
    asserts the scan's PartitionFilters carry it. The oracle replays
    the rectangle on the raw table, so the layout must also be
    lossless. At 100 TB this is the difference between scanning the
    corpus and scanning its perimeter (operators/layout.py)."""
    from ram_datapipeline_spark.operators.layout import (
        morton_key,
        zorder_buckets_for_box,
    )

    t = load_tables(spark, sf_dir)
    pts = t["events"].select(
        (F.col("event_id") % 1024).alias("x"),
        (F.col("user_id") % 1024).alias("y"),
    )
    keyed = pts.withColumn(
        "z", morton_key([F.col("x"), F.col("y")], bits=10)
    ).withColumn("zbucket", F.shiftright(F.col("z"), 14))
    base = _rt_path("kzorder", sf_dir)
    (
        keyed.repartition(4, F.col("zbucket"))
        .sortWithinPartitions("zbucket", "z")
        .write.mode("overwrite")
        .partitionBy("zbucket")
        .parquet(base)
    )
    buckets = zorder_buckets_for_box(100, 300, 200, 330, bits=10, bucket_bits=6)
    back = spark.read.parquet(base).filter(
        F.col("zbucket").isin(buckets)
        & F.col("x").between(100, 300)
        & F.col("y").between(200, 330)
    )
    plan = back._jdf.queryExecution().executedPlan().toString()
    tail = plan.split("PartitionFilters: [", 1)
    if len(tail) < 2 or "zbucket" not in tail[1][:300]:
        raise AssertionError(
            "z-bucketed scan lost its PartitionFilters:\n" + plan
        )
    return back.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("bigint").alias("sum_x"),
        F.sum("y").cast("bigint").alias("sum_y"),
        F.min("z").alias("min_z"),
        F.max("z").alias("max_z"),
    )


@query(
    "k_orc_roundtrip",
    oracle=_FLAT_ETA_SQL
    + "SELECT origin_id, admin_id, lon, lat, eta_bank, eta_hospital,"
    "         eta_school FROM flat",
    survey="K2-family columnar sink: ORC round-trip (Hive-era interchange twin of the CSV sink)",
    tags=("sink",),
)
def q_k_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The K2 result shape written through Spark's built-in ORC writer
    (overwrite = K7 cleanup), re-read by the ORC reader. Hash-matching
    the SQL replay proves the columnar re-encode value-lossless — the
    double lon/lat columns round-trip as stored bits, not printed text,
    so this also covers the binary-columnar leg CSV can't."""
    results = _results_with_poi_map(spark, sf_dir)
    flat = sinks.flatten_poi_map(results)
    path = _rt_path("korc", sf_dir)
    sinks.write_orc(flat, path)
    return spark.read.orc(path)
