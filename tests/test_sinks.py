"""Sink operators: table reconstruction, CSV/JSON/HTML rendering,
bulk export, parsing report (`camelot/core.py:571-758` parity)."""

import json

import pytest

from camelot_spark import fixtures as fx
from camelot_spark import sinks
from camelot_spark.pipeline import extract
from camelot_spark.schema import DOCUMENTS_SCHEMA


@pytest.fixture(scope="module")
def extracted(spark):
    builders = [fx.doc_health("h1"), fx.doc_twotables("t1")]
    rows = [(b.doc_id, [tuple(s.values()) for s in b.spans]) for b in builders]
    df = spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA)
    return extract(df, flavor="stream", fail_fast=True)


def test_table_rows_reconstructs_grids(extracted):
    out = {(r["doc_id"], r["table_order"]): r["rows"] for r in sinks.table_rows(extracted).collect()}
    assert set(out) == {("h1", 1), ("t1", 1), ("t1", 2)}
    h1 = out[("h1", 1)]
    assert h1[0] == ["metric", "y2015", "y2016", "y2017"]
    assert len(h1) == 8 and all(len(r) == 4 for r in h1)
    # two-table doc: blocks must not bleed into each other
    assert out[("t1", 1)][0][0].startswith("a")
    assert out[("t1", 2)][0][0].startswith("b")


def test_to_csv_and_json_and_html(extracted):
    csv = {(r["doc_id"], r["table_order"]): r["payload"] for r in sinks.to_csv(extracted).collect()}
    assert csv[("h1", 1)].splitlines()[0] == "metric,y2015,y2016,y2017"
    js = {(r["doc_id"], r["table_order"]): r["payload"] for r in sinks.to_json(extracted).collect()}
    parsed = json.loads(js[("h1", 1)])
    assert parsed[0] == ["metric", "y2015", "y2016", "y2017"] and len(parsed) == 8
    html = sinks.to_html(extracted).collect()[0]["payload"]
    assert html.startswith("<table><tr><td>") and html.endswith("</tr></table>")


def test_csv_quoting(spark):
    from pyspark.sql import functions as F

    df = spark.range(1).select(
        F.lit("d").alias("doc_id"),
        F.array(F.struct(
            F.lit("cell").alias("kind"), F.lit('a,"b"\nc').alias("text"),
            F.lit("").alias("media_ref"), F.lit(0).alias("order"))).alias("spans"),
        F.lit(1).alias("n_tables"),
        F.lit(100.0).alias("accuracy"), F.lit(0.0).alias("whitespace"),
        F.array(F.struct(
            F.lit(1).alias("order"), F.lit(100.0).alias("accuracy"),
            F.lit(0.0).alias("whitespace"), F.lit(1).alias("nrows"),
            F.lit(1).alias("ncols"), F.lit(0.0).alias("x0"), F.lit(0.0).alias("y0"),
            F.lit(0.0).alias("x1"), F.lit(0.0).alias("y1"))).alias("tables"),
    )
    payload = sinks.to_csv(df).collect()[0]["payload"]
    assert payload == '"a,""b""\nc"'


def test_export_roundtrip(extracted, spark, tmp_path):
    path = str(tmp_path / "csv_out")
    sinks.export(extracted, path, fmt="csv")
    back = spark.read.parquet(path)
    assert back.count() == 3
    assert set(back.columns) == {"table_order", "payload", "doc_id"}
    with pytest.raises(ValueError):
        sinks.export(extracted, path, fmt="xlsx")


def test_parsing_report(extracted):
    rep = {(r["doc_id"], r["table_order"]): r for r in sinks.parsing_report(extracted).collect()}
    assert rep[("h1", 1)]["nrows"] == 8 and rep[("h1", 1)]["ncols"] == 4
    assert rep[("h1", 1)]["accuracy"] == 100.0


def test_y_tied_tables_block_order_matches_tables_array():
    """Two side-by-side tables sharing a bottom baseline: cell blocks
    are emitted left-to-right by assemble_spans, so the tables list
    must be reordered by the same (-bottom, left, order) key even when
    the parser produced them right-first (insertion-order y-tie)."""
    from camelot_spark.extract_doc import assemble_spans, tables_in_span_order
    import numpy as np

    from camelot_spark.kernels.textlines import TL
    from camelot_spark.parsers.common import TableResult
    from camelot_spark.parsers.page import Page

    def table(order, x0, x1, label):
        return TableResult(order=order, bbox=(x0, 100.0, x1, 300.0),
                           data=[[label]], accuracy=100.0, whitespace=0.0,
                           nrows=1, ncols=1, flavor="stream")

    right = table(1, 300.0, 500.0, "R")   # parser saw the right table first
    left = table(2, 10.0, 200.0, "L")
    z = np.empty(0)
    empty = TL(z, z, z, z, [], [], np.empty(0, dtype=np.int64))
    page = Page(width=600.0, height=800.0, horizontal_text=empty, vertical_text=empty)
    spans = assemble_spans(page, [right, left])
    ordered = tables_in_span_order([right, left])
    # block i of the span sequence belongs to ordered[i]
    assert [s[1] for s in spans if s[0] == "cell"] == ["L", "R"]
    assert [t.order for t in ordered] == [2, 1]


def test_no_shuffle_in_sink_plans(extracted):
    for fn in (sinks.to_csv, sinks.to_json, sinks.to_html, sinks.parsing_report):
        plan = fn(extracted)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, fn.__name__
