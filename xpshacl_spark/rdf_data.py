"""RDF data-graph ingestion: a Turtle triples file -> a wide DataFrame.

The reference's CLI validates a Turtle DATA graph
(/root/reference/src/main.py:54 `data_graph.parse(args.data)`); this
module gives a reference user the same on-ramp for the tabular engine:
subjects become rows, predicates become columns (local names, matching
the shapes_ttl conventions), rdf:type becomes the `rdf_type` target
column, literals keep their XSD-typed Python values and IRI objects
project to local names. A predicate with multiple objects for any
subject becomes an array column (the multi-valued property paths the
Array* constraints validate).

Scale note: this loader is for the reference's file-sized graphs —
parsing happens on the driver. A 100 TB corpus would never live in
Turtle; it arrives as parquet and skips this module entirely. For
mid-sized RDF exports, parse to (s, p, o) triples once, write parquet,
and pivot with a groupBy — the driver-side path here is the
convenience entry, not the scale path.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from xpshacl_spark.session import local_relation
from xpshacl_spark.shapes_ttl import (
    RDF_TYPE,
    Literal,
    _Parser,
    _py_value,
    _tokenize,
    local_name,
)


def _obj_value(obj):
    if isinstance(obj, Literal):
        return _py_value(obj)
    if isinstance(obj, str):
        return local_name(obj)
    return None  # blank nodes / lists carry no cell value


def _infer_type(values) -> T.DataType:
    kinds = {type(v) for v in values}
    if kinds <= {bool}:
        return T.BooleanType()
    if kinds <= {int}:
        return T.LongType()
    if kinds <= {int, float}:
        return T.DoubleType()
    return T.StringType()


def rdf_table(
    spark: SparkSession,
    text: str,
    id_column: str = "id",
    type_column: str = "rdf_type",
    column_map: Optional[dict] = None,
    explode_types: bool = False,
) -> DataFrame:
    """Parse a Turtle document into a wide DataFrame (one row per
    subject, sorted by id for determinism).

    Subjects keep their local-name id unless two distinct IRIs share a
    local name, in which case the colliding subjects keep their FULL
    IRIs (never silently merged). A subject with multiple rdf:type
    values raises unless explode_types=True, which duplicates the row
    once per type — the tabular rendering of 'a node is a focus node of
    every shape targeting any of its classes'.
    """
    column_map = dict(column_map or {})
    rows: dict[str, dict] = {}
    multi: set[str] = set()
    for subj, props in _Parser(_tokenize(text)).parse():
        if subj is None:
            # blank-node subjects have no stable row key in the tabular
            # projection — skip (a data graph keyed on bnodes needs
            # skolemization upstream)
            continue
        row = rows.setdefault(subj, {})
        for pred, objs in props:
            if pred == RDF_TYPE:
                col = type_column
            else:
                col = column_map.get(
                    pred, column_map.get(local_name(pred), local_name(pred))
                )
            for obj in objs:
                val = _obj_value(obj)
                if val is None:
                    continue
                if col in row:
                    prev = row[col]
                    row[col] = (prev if isinstance(prev, list) else [prev]) + [val]
                    multi.add(col)
                else:
                    row[col] = val

    # local-name ids, falling back to the full IRI on collision — two
    # distinct subjects must never merge into one focus row
    by_local: dict[str, list] = {}
    for subj in rows:
        by_local.setdefault(local_name(subj), []).append(subj)
    ids = {
        subj: (ln if len(subjs) == 1 else subj)
        for ln, subjs in by_local.items()
        for subj in subjs
    }

    # multi-typed subjects: rdf_type as an array would crash every
    # targetClass equality filter — surface it instead
    if type_column in multi:
        if not explode_types:
            bad = sorted(
                ids[s] for s, r in rows.items()
                if isinstance(r.get(type_column), list)
            )
            raise ValueError(
                f"subjects with multiple rdf:type values: {bad[:5]} — pass "
                "explode_types=True to duplicate each such row once per type"
            )
        exploded: dict[str, dict] = {}
        for subj, r in rows.items():
            tv = r.get(type_column)
            if isinstance(tv, list):
                for i, t in enumerate(tv):
                    exploded[f"{subj}#t{i}"] = {**r, type_column: t}
                    ids[f"{subj}#t{i}"] = ids[subj]
            else:
                exploded[subj] = r
        rows = exploded
        multi.discard(type_column)

    cols = sorted({c for r in rows.values() for c in r})
    fields = [T.StructField(id_column, T.StringType(), False)]
    for c in cols:
        flat = []
        for r in rows.values():
            v = r.get(c)
            if v is None:
                continue
            flat.extend(v if isinstance(v, list) else [v])
        elem = _infer_type(flat)
        if c in multi:
            fields.append(T.StructField(c, T.ArrayType(elem), True))
        else:
            fields.append(T.StructField(c, elem, True))
    schema = T.StructType(fields)

    def _cell(c, v):
        if v is None:
            return None
        if c in multi:
            vals = v if isinstance(v, list) else [v]
            return [_coerce(x, schema[c].dataType.elementType) for x in vals]
        return _coerce(v, schema[c].dataType)

    def _coerce(v, dt):
        if isinstance(dt, T.StringType):
            return str(v)
        if isinstance(dt, T.DoubleType):
            return float(v)
        return v

    data = [
        tuple([ids[subj]] + [_cell(c, rows[subj].get(c)) for c in cols])
        for subj in sorted(rows, key=lambda s: (ids[s], s))
    ]
    return local_relation(spark, data, schema)


def read_rdf_table(spark: SparkSession, path: str, **kwargs) -> DataFrame:
    """File wrapper: rdf_table over the contents of `path`."""
    with open(path) as f:
        return rdf_table(spark, f.read(), **kwargs)


def _referenced_columns(constraints) -> set:
    cols = set()
    for c in constraints:
        for attr in ("column", "other"):
            v = getattr(c, attr, None)
            if isinstance(v, str):
                cols.add(v)
        for attr in ("columns", "group_by"):
            v = getattr(c, attr, None)
            if v:
                cols.update(v)
        inner = getattr(c, "inner", None)
        if inner is not None:
            cols |= _referenced_columns([inner])
        children = getattr(c, "children", None)
        if children:
            cols |= _referenced_columns(children)
        ref_shape = getattr(c, "shape", None)
        if ref_shape is not None:
            cols |= _referenced_columns(ref_shape.constraints)
    return cols


def align_to_shapes(df: DataFrame, shapes) -> DataFrame:
    """Add NULL columns for every shape-referenced column the table
    lacks. An RDF graph that contains NO triple for a predicate still
    validates against shapes constraining that predicate (SHACL: the
    value is simply absent — minCount flags it) — but a tabular engine
    needs the column to exist. Typed string; only null-ness matters for
    absence semantics."""
    from pyspark.sql import functions as F

    missing = set()
    for s in shapes:
        missing |= _referenced_columns(s.constraints)
    missing -= set(df.columns)
    for c in sorted(missing):
        df = df.withColumn(c, F.lit(None).cast("string"))
    return df
