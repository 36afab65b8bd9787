"""The flagship pipeline: the reference's entire 5-stage waterfall
(harvest.js:104-135) re-expressed as ONE declarative DataFrame program.

Reference stages → Spark stages (SURVEY.md §3.1):

1.  ingest + explode ``value.timeSeries[]``  (harvest.js:19-51)
      → here: deterministic synthesis of USGS-shaped rows from the
        read-only ``events`` table (FIXTURES.md §5); in production,
        ``spark.read.json(..., schema=USGS_SCHEMA)`` +
        ``explode("value.timeSeries")``.
2.  geojsonMap: doc → GeoJSON Feature     (mapreduce.js:3-34)
      → pure ``select`` of nested struct expressions — no shuffle.
3.  two filtered re-key jobs + merge-join via ``out:{reduce:'joined'}``
    (mapreduce.js:40-99, mongodb.js:94-115)
      → filter ∪ filter → ONE ``groupBy(siteCode)`` with conditional
        ``first(... ignorenulls)`` pivot aggregates — one shuffle total,
        no cross-job write races (reference hazards N2/N5 designed out).
4.  export filter + envelope projection    (mongodb.js:129-137)
      → ``filter`` + ``select`` — narrow.
5.  collect into one FeatureCollection doc (mongodb.js:125-143)
      → ``agg(collect_list(struct(...)))``; kept OUT of the default
        path because materializing everything into one row is the
        reference's driver-memory scale cliff (mongodb.js:125). At
        100 TB you write ``export_features`` as partitioned parquet and
        build the single-document artifact only on demand.

Scale notes: stage 2/4 are narrow and whole-stage-codegen'd; the only
shuffle is the groupBy(siteCode) in stage 3, which partitions by a
high-cardinality key (# sites) so it parallelizes cleanly and AQE
coalesces/splits partitions at runtime. Nested-schema pruning keeps
parquet reads to accessed leaves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from map_reduce_mongodb_spark.cache import tracked_persist
from map_reduce_mongodb_spark.functions.scalar import falsy_coalesce

#: USGS parameter codes as the reference *codes* them (names are swapped
#: vs published USGS semantics — replicated as-coded, SURVEY.md §2.3).
STREAMFLOW_CODE = "00065"   # filed under properties.streamFlow (mapreduce.js:78-86)
GAGEHEIGHT_CODE = "00060"   # filed under properties.gageHeight (mapreduce.js:87-95)
DROPPED_CODE = "00010"      # matches neither filter → dropped


def synthesize_usgs(events: DataFrame) -> DataFrame:
    """Deterministically derive USGS-shaped ``usgs_timeseries`` rows
    (FIXTURES.md §1) from the read-only ``events`` table (§5 recipe).

    Branch coverage engineered in (FIXTURES.md §1 generator reqs):
    - event_type rank % 3 picks 00065 / 00060 / 00010 → sites get
      both / one / neither code;
    - ``event_id % 17 == 0`` → empty measurement array (N4 path);
    - ``event_id % 13 == 0`` → '' dateTime (falsy-coalesce path).
    """
    rank = (
        F.when(F.col("event_type") == "click", 0)
        .when(F.col("event_type") == "error", 1)
        .when(F.col("event_type") == "purchase", 2)
        .when(F.col("event_type") == "signup", 3)
        .otherwise(4)  # 'view'
    )
    code = (
        F.when(rank % 3 == 0, STREAMFLOW_CODE)
        .when(rank % 3 == 1, GAGEHEIGHT_CODE)
        .otherwise(DROPPED_CODE)
    )
    site = F.concat(F.lit("S"), F.lpad(F.col("user_id").cast("string"), 6, "0"))
    lon = (F.col("user_id") % 360 - 180).cast("double") + 0.5
    lat = (F.col("user_id") % 180 - 90).cast("double") + 0.25
    measurement = F.struct(
        F.when(F.col("event_id") % 13 == 0, F.lit(""))
        .otherwise(F.col("value").cast("string")).alias("value"),
        # Second precision (session TZ is UTC): keeps the ISO rendering
        # bit-identical between Spark and the DuckDB oracle's strftime.
        F.date_format(F.col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("dateTime"),
    )
    inner_values = F.when(F.col("event_id") % 17 == 0,
                          F.array().cast("array<struct<value:string,dateTime:string>>")
                          ).otherwise(F.array(measurement))
    return events.select(
        F.col("event_id").cast("string").alias("_id"),
        F.concat(F.lit("USGS site "), site).alias("name"),
        F.struct(
            F.concat(F.lit("Site "), site).alias("siteName"),
            F.array(F.struct(site.alias("value"))).alias("siteCode"),
            F.struct(
                F.struct(
                    F.lit("EPSG:4326").alias("srs"),
                    lat.alias("latitude"),
                    lon.alias("longitude"),
                ).alias("geogLocation")
            ).alias("geoLocation"),
        ).alias("sourceInfo"),
        F.struct(
            F.array(F.struct(code.alias("value"))).alias("variableCode"),
            F.struct(F.lit("ft").alias("unitAbbreviation")).alias("unit"),
            F.lit(-999999.0).alias("noDataValue"),
        ).alias("variable"),
        F.array(F.struct(inner_values.alias("value"))).alias("values"),
    )


def geojson_features(usgs: DataFrame) -> DataFrame:
    """Stage 2 — ``geojsonMap`` (mapreduce.js:3-34) as a pure nested
    projection: raw record → ``{_id, value: GeoJSON Feature}``.

    The reference ran this as a map-only mapReduce whose reduce never
    fires (unique ``_id`` keys, SURVEY.md A1); the Spark idiom is a
    ``select`` — narrow, codegen'd, zero shuffle.
    """
    geog = F.col("sourceInfo.geoLocation.geogLocation")
    first_measurement = F.try_element_at(
        F.try_element_at(F.col("values"), F.lit(1))["value"], F.lit(1))
    # Guard (mapreduce.js:22): attrs populated only when values[0].value[0]
    # exists; else the element stays NULL (reference pushes `{}` — N4).
    attrs = F.when(
        first_measurement.isNotNull(),
        F.struct(
            falsy_coalesce(F.try_element_at(F.col("variable.variableCode"), F.lit(1))["value"],
                           "undefined").alias("variableCode"),
            falsy_coalesce(F.col("variable.unit.unitAbbreviation"),
                           "undefined").alias("variableUnit"),
            falsy_coalesce(F.col("variable.noDataValue").cast("string"),
                           "undefined").alias("noDataValue"),
            falsy_coalesce(first_measurement["value"], "undefined").alias("value"),
            falsy_coalesce(first_measurement["dateTime"], "undefined").alias("timeStamp"),
        ),
    )
    feature = F.struct(
        F.lit("Feature").alias("type"),
        F.struct(
            F.lit("Point").alias("type"),
            F.array(geog["longitude"], geog["latitude"]).alias("coordinates"),
        ).alias("geometry"),
        F.struct(
            F.lit("usgs-water").alias("record"),
            F.col("name").alias("id"),
            F.col("sourceInfo.siteName").alias("site"),
            geog["srs"].alias("srs"),
            F.try_element_at(F.col("sourceInfo.siteCode"), F.lit(1))["value"].alias("siteCode"),
            F.array(attrs).alias("variables"),
        ).alias("properties"),
    )
    return usgs.select(F.col("_id"), feature.alias("value"))


def _var_struct() -> F.Column:
    v = F.try_element_at(F.col("value.properties.variables"), F.lit(1))
    return F.struct(
        v["variableCode"].alias("variableCode"),
        v["noDataValue"].alias("noDataValue"),
        v["value"].alias("value"),
        v["timeStamp"].alias("timeStamp"),
    )


def merge_sites(features: DataFrame, order_key: F.Column | None = None) -> DataFrame:
    """Stage 3 — the two filtered mapReduce jobs + their merge-join into
    ``joined`` (mapreduce.js:40-99, mongodb.js:94-115), as one
    filter → hash-agg.

    The reference runs two jobs, each filtering on one parameter code
    (F1/F2, mapreduce.js:40-50), whose outputs merge by ``out:
    {reduce:'joined'}``. Two disjoint filters over the same input
    unioned back together ≡ ONE ``isin`` filter — so we scan the
    features once instead of twice (at 100 TB that halves the read).

    ``first(..., ignorenulls=True)`` per field is the Spark form of the
    reference's "take it from whichever input has it" truthiness loops
    (mapreduce.js:63-77); the conditional ``when(code==X, struct)``
    aggregates are its manual pivot (mapreduce.js:78-95). One shuffle on
    high-cardinality ``siteCode``; map-side partial aggregation halves
    shuffle volume automatically.
    """
    if order_key is None:
        order_key = F.col("_id")
    code = F.try_element_at(F.col("value.properties.variables"), F.lit(1))["variableCode"]
    # F1 ∪ F2 as a single scan (semantically identical, disjoint codes).
    both = features.filter(code.isin(STREAMFLOW_CODE, GAGEHEIGHT_CODE))
    merged_value = F.struct(
        F.struct(
            F.lit("Point").alias("type"),                       # mapreduce.js:59
            F.first(F.col("value.geometry.coordinates"), ignorenulls=True)
            .alias("coordinates"),
        ).alias("geometry"),
        F.struct(
            F.first(F.col("value.properties.record"), ignorenulls=True).alias("record"),
            F.first(F.col("value.properties.site"), ignorenulls=True).alias("site"),
            F.first(F.col("value.properties.srs"), ignorenulls=True).alias("srs"),
            F.first(F.col("value.properties.siteCode"), ignorenulls=True).alias("siteCode"),
            # The reference's pivot (mapreduce.js:78-95) is last-writer-
            # wins and nondeterministic across re-reduces; we pin
            # deterministic semantics (SURVEY.md N2/N5): per code, take
            # the measurement with the LOWEST order_key ("first
            # harvested"; default: _id as string — callers with numeric
            # ids pass _id cast to long). min_by ignores NULL keys.
            F.min_by(_var_struct(),
                     F.when(code == STREAMFLOW_CODE, order_key))
            .alias("streamFlow"),                               # mapreduce.js:78-86
            F.min_by(_var_struct(),
                     F.when(code == GAGEHEIGHT_CODE, order_key))
            .alias("gageHeight"),                               # mapreduce.js:87-95
        ).alias("properties"),
    )
    return (
        both.groupBy(F.col("value.properties.siteCode").alias("_id"))
        .agg(merged_value.alias("value"))
    )


def export_features(joined: DataFrame) -> DataFrame:
    """Stage 4 — export filter + Feature envelope (mongodb.js:129-137).

    The reference's ``geometry && properties`` guard (mongodb.js:131)
    plus the N5 analysis net out to: keep sites with BOTH readings
    (inner-join semantics, documented decision SURVEY.md N5).
    """
    return (
        joined.filter(_export_predicate())
        .select(
            F.lit("Feature").alias("type"),
            F.col("value.properties").alias("properties"),
            F.col("value.geometry").alias("geometry"),
        )
    )


def _export_predicate() -> F.Column:
    """THE stage-4 export rule (SURVEY.md N5: keep sites with BOTH
    readings) — one definition shared by :func:`export_features` and
    :func:`usgs_flat_join`, so a future change to the rule cannot
    update one face and silently leave the other on the old semantics
    (r9 review)."""
    props = F.col("value.properties")
    return (props["streamFlow"].isNotNull()
            & props["gageHeight"].isNotNull())


def feature_collection(exported: DataFrame) -> DataFrame:
    """Stage 5 — single ``{data:[Feature...]}`` doc (mongodb.js:125-143).

    Deliberately separate: the reference accumulates this in driver
    memory (its scale cliff); call it only for small exports or demos.
    """
    return exported.agg(
        F.collect_list(F.struct("type", "properties", "geometry")).alias("data")
    )


def usgs_flat_join(events: DataFrame) -> DataFrame:
    """The full pipeline with a FLAT projection of the §3 ``joined``
    shape (site, lon/lat, both measurements) — the oracle-comparable
    face of the flagship: nested structs don't hash identically across
    engines, flat columns do."""
    joined = merge_sites(
        tracked_persist(geojson_features(synthesize_usgs(events))),
                         order_key=F.col("_id").cast("long"))
    props = F.col("value.properties")
    return (
        joined.filter(_export_predicate())
        .select(
            F.col("_id").alias("site"),
            F.try_element_at(F.col("value.geometry.coordinates"), F.lit(1))
            .alias("lon"),
            F.try_element_at(F.col("value.geometry.coordinates"), F.lit(2))
            .alias("lat"),
            props["streamFlow"]["value"].alias("flow_value"),
            props["streamFlow"]["timeStamp"].alias("flow_ts"),
            props["gageHeight"]["value"].alias("gage_value"),
            props["gageHeight"]["timeStamp"].alias("gage_ts"),
        )
    )


def usgs_pipeline(events: DataFrame) -> DataFrame:
    """events → synthesized USGS rows → features → merged sites →
    exported Features. Returns the per-site Feature DataFrame (stage 4);
    stage 5 is opt-in via :func:`feature_collection`.

    The stage-2 ``features`` boundary is persisted —
    the analogue of the reference writing each stage to a collection
    (harvest.js:104-135). Two reasons, both real at scale: (a) stage 3
    consumes the feature expression in its filter AND its aggregate, so
    without a boundary the wide nested projection is computed twice and
    Catalyst inlines it into the pushed-down predicate (which at this
    expression size also trips a Spark whole-stage-codegen bug and
    forces interpreted fallback); (b) at 100 TB the boundary would be a
    partitioned parquet write feeding many downstream consumers.
    """
    features = tracked_persist(geojson_features(synthesize_usgs(events)))
    return export_features(
        merge_sites(features, order_key=F.col("_id").cast("long")))
