"""OpenSpending-shaped dataset → QB triples (the reference-parity core).

Replays ``ConvertWorker.createDataset`` + ``createObservations``
(ConvertWorker.java:173-300,580-843) over a columnar entries DataFrame:

* schema triples (dataset/DSD/component specs/currency/territories/
  default year/metadata) are a small driver-built DataFrame — the plan
  is per-dataset and tiny, exactly like the reference's
  ``Set<ComponentProperty>`` (ConvertWorker.java:231-242);
* per-entry triples are one wide ``select`` building an
  ``array<struct<s,p,o,...>>`` over the five component-type dispatches
  (ConvertWorker.java:646-738) followed by ``explode`` + null-filter —
  narrow, no shuffle, whole-stage codegen;
* completeness / refYear / parse-error accounting is one ``groupBy()``
  over the same null-flag expressions (ConvertWorker.java:595-599,
  798-840) — the only shuffle in the converter, and it aggregates
  map-side to a single row per dataset;
* the missing-value stop rule (≥``min_missing`` and ratio ≥
  ``stop_ratio`` → reject, ConvertWorker.java:626-641,
  environmentVariables.properties:4-6) is enforced from that aggregate.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from .. import model as M
from .. import uris as U
from ..functions import clean_string, parse_string_date
from ..plans.components import ComponentPlan, ComponentType, DatasetRejectedError
from ..sources.local import local_frame

TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss'Z'"

_ROLE_URIS = {
    ComponentType.DATE: (M.QB_DIMENSION, M.QB_DIMENSION_PROPERTY),
    ComponentType.COMPOUND: (M.QB_DIMENSION, M.QB_DIMENSION_PROPERTY),
    ComponentType.MEASURE: (M.QB_MEASURE, M.QB_MEASURE_PROPERTY),
    ComponentType.ATTRIBUTE: (M.QB_ATTRIBUTE, M.QB_ATTRIBUTE_PROPERTY),
    ComponentType.STRING_DATE: (M.QB_ATTRIBUTE, M.QB_ATTRIBUTE_PROPERTY),
}

_XSD_BY_DATATYPE = {
    "float": M.XSD_FLOAT,
    "double": M.XSD_DOUBLE,
    "string": M.XSD_STRING,
    "date": M.XSD_DATE,
}


@dataclass
class ConvertResult:
    triples: DataFrame
    metrics: Row  # per-dataset counters (missing/errors/years/…)


def schema_triple_rows(
    plan: ComponentPlan,
    currency_uri: str,
    country_uris: dict[str, str],
) -> list[tuple]:
    """Driver-built schema triples (ConvertWorker.java:173-300 analog).

    Returns (s, p, o, o_kind, o_datatype, o_lang) tuples.
    """
    ds = U.dataset_uri_str(plan.dataset)
    dsd = U.dsd_uri_str(plan.dataset)
    uri, lit = M.KIND_URI, M.KIND_LITERAL
    t: list[tuple] = [
        (ds, M.RDF_TYPE, M.QB_DATASET, uri, None, None),
        (ds, M.QB_STRUCTURE, dsd, uri, None, None),
        (ds, M.DCT_IDENTIFIER, plan.dataset, lit, None, None),
        (ds, M.DBO_CURRENCY, currency_uri, uri, None, None),
        (dsd, M.RDF_TYPE, M.QB_DSD, uri, None, None),
        (dsd, M.QB_COMPONENT, M.LSO_CURRENCY_COMPONENT, uri, None, None),
        (dsd, M.QB_COMPONENT, M.LSO_DATE_COMPONENT, uri, None, None),
        (dsd, M.QB_COMPONENT, M.LSO_YEAR_COMPONENT, uri, None, None),
        (
            ds,
            M.LSO_TRANSFORMATION_VERSION,
            str(M.TRANSFORMATION_VERSION),
            lit,
            M.XSD_INT,
            None,
        ),
    ]
    if plan.meta.label:
        t.append((ds, M.RDFS_LABEL, plan.meta.label, lit, None, None))
    if plan.meta.description:
        t.append((ds, M.RDFS_COMMENT, plan.meta.description, lit, None, None))
    if plan.meta.default_year is not None:
        t.append(
            (ds, M.LSO_REF_YEAR, f"{plan.meta.default_year:04d}", lit, M.XSD_GYEAR, None)
        )
    if plan.meta.territories:
        t.append((dsd, M.QB_COMPONENT, M.LSO_COUNTRY_COMPONENT, uri, None, None))
        for code in plan.meta.territories:
            target = country_uris.get(code.lower())
            if target:
                t.append((ds, M.SDMX_REF_AREA, target, uri, None, None))
    for c in plan.components:
        role_prop, prop_class = _ROLE_URIS[c.ctype]
        owl_kind = (
            M.OWL_OBJECT_PROPERTY
            if c.ctype == ComponentType.COMPOUND
            else M.OWL_DATATYPE_PROPERTY
        )
        t += [
            (dsd, M.QB_COMPONENT, c.spec_uri, uri, None, None),
            (c.spec_uri, M.RDF_TYPE, M.QB_COMPONENT_SPECIFICATION, uri, None, None),
            (c.spec_uri, role_prop, c.uri, uri, None, None),
            (c.uri, M.RDF_TYPE, prop_class, uri, None, None),
            (c.uri, M.RDF_TYPE, owl_kind, uri, None, None),
            (c.uri, M.DCT_IDENTIFIER, c.name, lit, None, None),
        ]
        if c.label:
            t.append((c.uri, M.RDFS_LABEL, c.label, lit, None, None))
        if c.description:
            t.append((c.uri, M.RDFS_COMMENT, c.description, lit, None, None))
        # rdfs:range (ConvertWorker.java:437-453; compound range class :361-364)
        if c.ctype == ComponentType.COMPOUND:
            t.append((c.uri, M.RDFS_RANGE, c.range_class_uri, uri, None, None))
        elif c.ctype == ComponentType.DATE:
            t.append((c.uri, M.RDFS_RANGE, M.XSD_DATE, uri, None, None))
        elif c.ctype == ComponentType.STRING_DATE:
            t.append((c.uri, M.RDFS_RANGE, M.XSD_DATETIME, uri, None, None))
        elif c.datatype in _XSD_BY_DATATYPE:
            t.append((c.uri, M.RDFS_RANGE, _XSD_BY_DATATYPE[c.datatype], uri, None, None))
    return t


def _ts(s: Column, p, o: Column, kind: str, datatype: str | None = None) -> Column:
    p_col = F.lit(p) if isinstance(p, str) else p
    return F.struct(
        s.alias("s"),
        p_col.alias("p"),
        o.alias("o"),
        F.lit(kind).alias("o_kind"),
        F.lit(datatype).cast("string").alias("o_datatype"),
    )


def _has(df: DataFrame, name: str) -> bool:
    return name in df.columns


def observation_triples(entries: DataFrame, plan: ComponentPlan, currency_uri: str) -> DataFrame:
    """Per-entry triple emission — the five type dispatches
    (ConvertWorker.java:646-738) as one select + explode."""
    obs = U.observation_uri(F.lit(plan.dataset), F.col("id").cast("string"))
    ds_uri = U.dataset_uri_str(plan.dataset)
    cands: list[Column] = [
        _ts(obs, M.RDF_TYPE, F.lit(M.QB_OBSERVATION), M.KIND_URI),
        _ts(obs, M.QB_DATASET_PROP, F.lit(ds_uri), M.KIND_URI),
        _ts(
            obs,
            M.RDFS_LABEL,
            F.concat(
                F.lit(f"{plan.dataset} observation "), F.col("id").cast("string")
            ),
            M.KIND_LITERAL,
        ),
        _ts(
            obs,
            M.DCT_SOURCE,
            U.skolem_source_uri(F.lit(plan.dataset), F.col("id").cast("string")),
            M.KIND_URI,
        ),
        _ts(obs, M.DBO_CURRENCY, F.lit(currency_uri), M.KIND_URI),
    ]
    # year fallback: observation gets the dataset default year when it has
    # no date value of its own (ConvertWorker.java:775-789)
    date_null_flags: list[Column] = []
    for c in plan.components:
        if not _has(entries, c.name):
            continue
        col = F.col(c.name)
        if c.ctype == ComponentType.ATTRIBUTE:
            cands.append(_ts(obs, c.uri, clean_string(col), M.KIND_LITERAL))
        elif c.ctype == ComponentType.MEASURE:
            raw = clean_string(col.cast("string"))
            as_int = raw.try_cast("int")
            # int-parse first, plain-string fallback (ConvertWorker.java:690-697)
            cands.append(
                _ts(
                    obs,
                    c.uri,
                    F.when(as_int.isNotNull(), as_int.cast("string")),
                    M.KIND_LITERAL,
                    M.XSD_INT,
                )
            )
            cands.append(
                _ts(
                    obs,
                    c.uri,
                    F.when(as_int.isNull(), raw),
                    M.KIND_LITERAL,
                )
            )
        elif c.ctype == ComponentType.COMPOUND:
            url = clean_string(col.getField("html_url"))
            label = clean_string(col.getField("label"))
            cands.append(_ts(obs, c.uri, url, M.KIND_URI))
            cands.append(
                _ts(
                    F.coalesce(url, F.lit("")),
                    M.RDFS_LABEL,
                    F.when(url.isNotNull(), label),
                    M.KIND_LITERAL,
                )
            )
            cands.append(
                _ts(
                    F.coalesce(url, F.lit("")),
                    M.RDF_TYPE,
                    F.when(url.isNotNull(), F.lit(c.range_class_uri)),
                    M.KIND_URI,
                )
            )
        elif c.ctype == ComponentType.DATE:
            y = col.getField("year")
            lex = F.when(
                y.isNotNull(),
                F.format_string(
                    "%04d-%02d-%02d",
                    y,
                    F.coalesce(col.getField("month"), F.lit(1)),
                    F.coalesce(col.getField("day"), F.lit(1)),
                ),
            )
            cands.append(_ts(obs, c.uri, lex, M.KIND_LITERAL, M.XSD_DATE))
            cands.append(
                _ts(
                    obs,
                    M.LSO_REF_YEAR,
                    F.when(y.isNotNull(), F.format_string("%04d", y)),
                    M.KIND_LITERAL,
                    M.XSD_GYEAR,
                )
            )
            date_null_flags.append(y.isNull())
        elif c.ctype == ComponentType.STRING_DATE:
            parsed = parse_string_date(col)
            cands.append(
                _ts(
                    obs,
                    c.uri,
                    F.date_format(parsed, TS_FORMAT),
                    M.KIND_LITERAL,
                    M.XSD_DATETIME,
                )
            )
            date_null_flags.append(parsed.isNull())
    if plan.meta.default_year is not None:
        no_own_date = (
            F.lit(True)
            if not date_null_flags
            else F.aggregate(
                F.array(*[f.cast("boolean") for f in date_null_flags]),
                F.lit(True),
                lambda acc, x: acc & x,
            )
        )
        cands.append(
            _ts(
                obs,
                M.LSO_REF_YEAR,
                F.when(no_own_date, F.lit(f"{plan.meta.default_year:04d}")),
                M.KIND_LITERAL,
                M.XSD_GYEAR,
            )
        )
    exploded = (
        entries.select(F.explode(F.array(*cands)).alias("t"))
        .where(F.col("t.o").isNotNull() & (F.col("t.s") != ""))
        .select(
            F.col("t.s").alias("s"),
            F.col("t.p").alias("p"),
            F.col("t.o").alias("o"),
            F.col("t.o_kind").alias("o_kind"),
            F.col("t.o_datatype").alias("o_datatype"),
            F.lit(None).cast("string").alias("o_lang"),
        )
    )
    return exploded


def _missing_flag(entries: DataFrame, c) -> Column:
    col = F.col(c.name)
    if c.ctype == ComponentType.COMPOUND:
        return clean_string(col.getField("html_url")).isNull()
    if c.ctype == ComponentType.DATE:
        return col.getField("year").isNull()
    if c.ctype == ComponentType.MEASURE:
        return clean_string(col.cast("string")).isNull()
    return clean_string(col).isNull()


def dataset_metrics(entries: DataFrame, plan: ComponentPlan) -> Row:
    """Single-row aggregate: per-component missing counts, string-date
    parse errors, distinct DATE years (ConvertWorker.java:595-599,798-840)."""
    aggs = [F.count(F.lit(1)).alias("n_entries")]
    for c in plan.components:
        if _has(entries, c.name):
            aggs.append(
                F.sum(_missing_flag(entries, c).cast("long")).alias(f"miss_{c.name}")
            )
        else:
            aggs.append(F.count(F.lit(1)).alias(f"miss_{c.name}"))
        if c.ctype == ComponentType.STRING_DATE and _has(entries, c.name):
            raw_present = clean_string(F.col(c.name)).isNotNull()
            parse_fail = parse_string_date(F.col(c.name)).isNull()
            aggs.append(
                F.sum((raw_present & parse_fail).cast("long")).alias(f"err_{c.name}")
            )
    year_cols = [
        F.col(c.name).getField("year")
        for c in plan.by_type(ComponentType.DATE)
        if _has(entries, c.name)
    ] + [
        F.year(parse_string_date(F.col(c.name)))
        for c in plan.by_type(ComponentType.STRING_DATE)
        if _has(entries, c.name)
    ]
    for i, yc in enumerate(year_cols):
        aggs.append(F.array_sort(F.collect_set(yc)).alias(f"years_{i}"))
    return entries.agg(*aggs).collect()[0]


def completeness_triple_rows(plan: ComponentPlan, metrics: Row) -> list[tuple]:
    """Dataset + per-property completeness and refYears from the metrics row
    (ConvertWorker.java:798-820)."""
    ds = U.dataset_uri_str(plan.dataset)
    n = metrics["n_entries"]
    rows: list[tuple] = []
    if n == 0:
        return rows
    total_missing = 0
    for c in plan.components:
        miss = metrics[f"miss_{c.name}"] or 0
        total_missing += miss
        if c.is_dataset_specific:
            rows.append(
                (
                    c.uri,
                    M.LSO_COMPLETENESS,
                    f"{1.0 - miss / n:.6f}",
                    M.KIND_LITERAL,
                    M.XSD_DOUBLE,
                    None,
                )
            )
    expected = len(plan.components) * n
    rows.append(
        (
            ds,
            M.LSO_COMPLETENESS,
            f"{1.0 - total_missing / expected:.6f}" if expected else "1.000000",
            M.KIND_LITERAL,
            M.XSD_DOUBLE,
            None,
        )
    )
    years: set[int] = set()
    for k in metrics.asDict():
        if k.startswith("years_"):
            years.update(y for y in (metrics[k] or []) if y is not None)
    for y in sorted(years):
        rows.append((ds, M.LSO_REF_YEAR, f"{y:04d}", M.KIND_LITERAL, M.XSD_GYEAR, None))
    return rows


def convert_dataset(
    spark: SparkSession,
    entries: DataFrame,
    plan: ComponentPlan,
    currency_uris: dict[str, str],
    country_uris: dict[str, str],
    min_missing: int = 1000,
    stop_ratio: float = 1.0,
) -> ConvertResult:
    """Full per-dataset conversion with the missing-value stop rule."""
    currency_uri = currency_uris[plan.meta.currency]
    metrics = dataset_metrics(entries, plan)
    n = metrics["n_entries"]
    total_missing = sum(metrics[f"miss_{c.name}"] or 0 for c in plan.components)
    expected = max(len(plan.components) * n, 1)
    if total_missing >= min_missing and total_missing / expected >= stop_ratio:
        raise DatasetRejectedError(
            f"dataset {plan.dataset}: {total_missing} missing of {expected} expected"
        )
    driver_rows = schema_triple_rows(plan, currency_uri, country_uris)
    driver_rows += completeness_triple_rows(plan, metrics)
    small = local_frame(spark, driver_rows, M.TRIPLE_SCHEMA)
    obs = observation_triples(entries, plan, currency_uri)
    triples = (
        obs.unionByName(small)
        .dropDuplicates(["s", "p", "o"])
        .withColumn("dataset", F.lit(plan.dataset))
    )
    return ConvertResult(triples=triples, metrics=metrics)
