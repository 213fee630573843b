"""Golden end-to-end span-sequence equality per fixture family —
the correctness contract from BASELINE.json (exact (kind, text,
media_ref, order) per doc), Spark-free via the document kernel."""

import warnings

import pytest

from camelot_spark import extract_document, make_config
from camelot_spark import fixtures as fx


@pytest.mark.parametrize("family", list(fx.FAMILIES))
def test_family_golden(family):
    b = fx.FAMILIES[family](f"{family}-0")
    cfg = make_config(b.flavor, **b.extract_kwargs)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        res = extract_document(b.spans, cfg)
    assert res["spans"] == b.golden()


@pytest.mark.parametrize("family", list(fx.FAMILIES))
def test_family_golden_jittered(family):
    b = fx.FAMILIES[family](f"{family}-j", 17.0, 23.0)
    cfg = make_config(b.flavor, **b.extract_kwargs)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        res = extract_document(b.spans, cfg)
    assert res["spans"] == b.golden()


def test_stacked_sub_tolerance_x_drops_second_table():
    """The found-but-too-far reference quirk (`camelot/core.py:63-75`):
    when a lower table's columns match an upper table's edges within
    find()'s 0.5pt atol but sit > edge_tol below, its lines neither
    extend the edge nor create a new one — the second table is
    silently DROPPED, not merged. doc_stacked's 1.2pt offset is what
    keeps the real family on the two-tables side of this cliff."""
    from camelot_spark.fixtures import (DocBuilder, _grid_texts,
                                        add_stream_table)

    b = DocBuilder("stacked-drop")
    col_x = [72.0, 190.0, 310.0]
    cells1 = _grid_texts(7, 3, "u")
    cells2 = _grid_texts(7, 3, "v")
    t1 = add_stream_table(b, cells1, col_x, 700.0)
    add_stream_table(b, cells2, col_x, t1["y_bottom_line"] - 100.0)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        res = extract_document(b.spans, make_config("stream"))
    kinds = {text[0]: kind for kind, text, _, _ in res["spans"] if text}
    assert kinds["u"] == "cell"   # table 1 extracted as a table
    # table 2 dropped from table detection (its lines demote to prose,
    # never cells), exactly the reference's silent-drop behavior
    assert kinds["v"] == "prose"


def test_parsing_report_metrics():
    """accuracy/whitespace replicate the reference formulas
    (`camelot/utils.py:709-760`): clean fixtures → 100 / 0."""
    b = fx.doc_foo("foo-m")
    res = extract_document(b.spans, make_config("lattice"))
    assert res["n_tables"] == 1
    assert res["accuracy"] == pytest.approx(100.0)
    assert res["whitespace"] == 0.0
    t = res["tables"][0]
    assert (t.nrows, t.ncols) == (7, 7)
    assert t.order == 1


def test_table_order_two_tables():
    """TableList ordering contract: top table order 1 (`core.py:356-361`)."""
    b = fx.doc_twotables("tt-m")
    res = extract_document(b.spans, make_config("stream"))
    assert [t.order for t in res["tables"]] == [1, 2]
    assert res["tables"][0].bbox[1] > res["tables"][1].bbox[1]


def test_whitespace_counts_empty_cells():
    b = fx.doc_rowspan("rs-m")
    res = extract_document(b.spans, make_config("lattice"))
    # one empty cell in a 5×4 grid
    assert res["whitespace"] == pytest.approx(100 * 1 / 20.0)


def test_stream_table_areas_kwarg():
    """User table_areas path (`stream.py:309-317`): restrict to the
    table region explicitly."""
    b = fx.doc_health("ta-m")
    # health table: cols 72..445, rows y 502..610 → area in lt/rb form
    res = extract_document(
        b.spans, make_config("stream", table_areas=["60,640,460,490"])
    )
    assert res["n_tables"] == 1
    cells = [s for s in res["spans"] if s[0] == "cell"]
    assert len(cells) == 8 * 4
    assert cells[0][1] == "metric"


def test_stream_table_regions_kwarg():
    """table_regions filters candidate text (`stream.py:296-306`)."""
    b = fx.doc_health("tr-m")
    res = extract_document(
        b.spans, make_config("stream", table_regions=["60,640,460,490"])
    )
    assert res["n_tables"] == 1
    assert [s[1] for s in res["spans"] if s[0] == "cell"][:4] == [
        "metric", "y2015", "y2016", "y2017",
    ]


def test_lattice_table_areas_kwarg():
    b = fx.doc_foo("la-m")
    res = extract_document(
        b.spans, make_config("lattice", table_areas=["118,622,506,464"])
    )
    assert res["n_tables"] == 1
    assert res["tables"][0].nrows == 7


def test_edge_tol_extension(monkeypatch):
    """Sparse tall column chains only with a larger edge_tol
    (`core.py:67`, test_common.py:126-131 analog)."""
    from camelot_spark.fixtures import DocBuilder, add_stream_table

    b = DocBuilder("edgetol-m")
    cells = [[f"L{i}", f"R{i}"] for i in range(7)]
    monkeypatch.setattr(fx, "ROW_H", 80.0)  # tall rows
    add_stream_table(b, cells, [72.0, 300.0], 700.0)
    res_default = extract_document(b.spans, make_config("stream"))
    res_tol = extract_document(b.spans, make_config("stream", edge_tol=500))
    cells_tol = [s[1] for s in res_tol["spans"] if s[0] == "cell"]
    assert cells_tol == [c for row in cells for c in row]
    # with default tol the textedges never chain → whole-page fallback
    # still yields a table, but detection used the fallback path
    assert res_default["n_tables"] == 1


def test_stream_columns_kwarg():
    """User-supplied column separators (`stream.py:336-345`): same cells
    as the inferred path when the separators match the layout."""
    b = fx.doc_health()
    auto = extract_document(b.spans, make_config("stream"))
    user = extract_document(
        b.spans, make_config("stream", table_areas=["60,640,460,490"], columns=["170,290,410"])
    )
    auto_cells = [s for s in auto["spans"] if s[0] == "cell"]
    user_cells = [s for s in user["spans"] if s[0] == "cell"]
    assert [c[1] for c in auto_cells] == [c[1] for c in user_cells]


def test_lattice_shift_text_directions():
    """L9: spanning-cell text shifts to the configured corner
    (`lattice.py:133-176`). rowspan doc: text of the merged cell sits in
    the top cell by default ('l','t'); with ('r','b') it moves down."""
    b = fx.doc_rowspan()
    default = extract_document(b.spans, make_config("lattice"))
    shifted = extract_document(b.spans, make_config("lattice", shift_text=["r", "b"]))
    d_cells = [s[1] for s in default["spans"] if s[0] == "cell"]
    s_cells = [s[1] for s in shifted["spans"] if s[0] == "cell"]
    assert sorted(d_cells) == sorted(s_cells)  # same content, moved
    assert d_cells != s_cells


def test_raster_table_regions():
    """Region mask on the raster path (`image_processing.py:105-110`):
    a region covering the grid keeps the table; one missing it finds
    nothing."""
    b = fx.doc_rasterfoo()
    hit = extract_document(
        b.spans, make_config("lattice", table_regions=["100,640,480,440"])
    )
    assert hit["n_tables"] == 1
    import warnings
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        miss = extract_document(
            b.spans, make_config("lattice", table_regions=["10,780,100,700"])
        )
    assert miss["n_tables"] == 0


def test_raster_iterations_dilation_stable():
    """`iterations` dilates detected line masks (`image_processing.py:112-114`);
    centerlines are unchanged so the golden still holds."""
    b = fx.doc_rasterfoo()
    res = extract_document(b.spans, make_config("lattice", iterations=2))
    assert res["spans"] == b.golden()


def test_no_per_row_python_in_package():
    """SURVEY §7.3 lint: the Spark surface must stay Arrow-batched —
    no row-at-a-time `F.udf`/`@udf`, no RDD hops."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / "camelot_spark"
    offenders = []
    for p in root.rglob("*.py"):
        src = p.read_text()
        for bad in ("F.udf(", "@udf", ".rdd.map", ".rdd.flatMap", "rdd.mapPartitions"):
            if bad in src:
                offenders.append((str(p), bad))
    assert not offenders, offenders


def test_raw_spans_equal_serialized_all_families():
    """The fused pipeline's raw-payload path must extract identically
    to the JSON-serialized contract path for every family."""
    for name in fx.FAMILIES:
        br = fx.builder_for("zz", families=[name], raw=True)
        bs = fx.builder_for("zz", families=[name])
        cfg = make_config(bs.flavor, **bs.extract_kwargs)
        got_raw = extract_document(br.raw_spans(), cfg)["spans"]
        got_ser = extract_document(bs.spans, cfg)["spans"]
        assert got_raw == got_ser, name
