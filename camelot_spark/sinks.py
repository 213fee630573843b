"""Sinks: per-table exports + parsing report (K1/K2/K3).

Reference: ``Table.to_csv/to_json/to_html`` (`camelot/core.py:571-636`,
pandas writers, one local file per table) and ``TableList.export``
(`camelot/core.py:689-758`, one file per ``(page, order)``). The
reference's single-machine Excel and SQLite writers have no
counterpart: full-corpus output goes to the distributed
parquet/snapshot path.

Spark shape: everything below is built from array expressions on the
``extracted`` row (slice/transform/aggregate) — per-doc work stays
inside whole-stage codegen with NO shuffle and no Python; the write is
``partitionBy(doc_id)``, the distributed analogue of one-file-per-table.

Reconstruction invariant: cell spans are emitted as contiguous
row-major blocks, one block per entry of ``tables`` in array order, so
block i covers cells [Σ sizes[:i], Σ sizes[:i+1]). extract_document
guarantees the match by ordering ``tables`` with the same composite
key assemble_spans uses — (-bbox.bottom, bbox.left, parser order) —
which also covers bottom-y ties between side-by-side tables
(`extract_doc.tables_in_span_order`).

Deviation: ``to_json`` emits an array-of-rows-of-strings rather than
pandas' records orient (`core.py:589-607`) — the reference's record
keys are just stringified column indices, which JSON arrays carry
positionally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _cell_texts():
    """Ordered cell-span texts of the doc as array<string>."""
    return F.transform(
        F.filter("spans", lambda s: s["kind"] == F.lit("cell")),
        lambda s: F.coalesce(s["text"], F.lit("")),
    )


def _table_rows_col(cells, t):
    """Rows (array<array<string>>) of one table struct ``t`` given the
    doc's flat cell array and this table's precomputed ``start``."""
    return F.transform(
        F.sequence(F.lit(0), t["nrows"] - 1),
        lambda r: F.slice(cells, t["start"] + r * t["ncols"] + 1, t["ncols"]),
    )


def _tables_with_offsets():
    """tables array enriched with each block's start offset in the
    doc's cell sequence (running sum of nrows*ncols)."""
    sizes_before = lambda i: F.aggregate(  # noqa: E731
        F.slice("tables", 1, i), F.lit(0), lambda acc, t: acc + t["nrows"] * t["ncols"]
    )
    return F.transform(
        "tables",
        lambda t, i: F.struct(
            t["order"].alias("order"),
            t["nrows"].alias("nrows"),
            t["ncols"].alias("ncols"),
            sizes_before(i).alias("start"),
        ),
    )


def table_rows(extracted: DataFrame) -> DataFrame:
    """(doc_id, table_order, rows array<array<string>>) — one row per
    extracted table, cells reassembled into the reference's grid shape
    (`camelot/core.py:364-370`)."""
    cells = _cell_texts()
    per_table = F.transform(
        _tables_with_offsets(),
        lambda t: F.struct(
            t["order"].alias("table_order"), _table_rows_col(cells, t).alias("rows")
        ),
    )
    return extracted.select(
        "doc_id", F.explode(per_table).alias("t")
    ).select("doc_id", "t.table_order", "t.rows")


def _csv_quote(c):
    """Minimal CSV quoting (RFC 4180): quote when the value contains a
    comma, quote or newline; double interior quotes."""
    needs = c.rlike('[",\n\r]')
    return F.when(
        needs, F.concat(F.lit('"'), F.regexp_replace(c, '"', '""'), F.lit('"'))
    ).otherwise(c)


def to_csv(extracted: DataFrame) -> DataFrame:
    """(doc_id, table_order, payload) with payload = the table as CSV
    text — `Table.to_csv` (`camelot/core.py:571-587`) semantics."""
    rows = table_rows(extracted)
    line = lambda r: F.array_join(F.transform(r, _csv_quote), ",")  # noqa: E731
    return rows.select(
        "doc_id",
        "table_order",
        F.array_join(F.transform("rows", line), "\n").alias("payload"),
    )


def to_json(extracted: DataFrame) -> DataFrame:
    """(doc_id, table_order, payload) — JSON array of rows of strings."""
    return table_rows(extracted).select(
        "doc_id", "table_order", F.to_json("rows").alias("payload")
    )


def to_html(extracted: DataFrame) -> DataFrame:
    """(doc_id, table_order, payload) — minimal <table> markup, the
    Spark-side analogue of `Table.to_html` (`camelot/core.py:609-625`)."""
    esc = lambda c: F.regexp_replace(  # noqa: E731
        F.regexp_replace(F.regexp_replace(c, "&", "&amp;"), "<", "&lt;"), ">", "&gt;"
    )
    tr = lambda r: F.concat(  # noqa: E731
        F.lit("<tr>"),
        F.array_join(F.transform(r, lambda c: F.concat(F.lit("<td>"), esc(c), F.lit("</td>"))), ""),
        F.lit("</tr>"),
    )
    return table_rows(extracted).select(
        "doc_id",
        "table_order",
        F.concat(
            F.lit("<table>"), F.array_join(F.transform("rows", tr), ""), F.lit("</table>")
        ).alias("payload"),
    )


_FORMATS = {"csv": to_csv, "json": to_json, "html": to_html}


def export(extracted: DataFrame, path: str, fmt: str) -> None:
    """Bulk export — `TableList.export` (`camelot/core.py:689-735`).

    One output partition dir per doc (distributed analogue of one file
    per (page, order)); ``payload`` carries the rendered table.
    """
    if fmt not in _FORMATS:
        raise ValueError(f"Format {fmt} is not supported (csv, json, html)")
    df = _FORMATS[fmt](extracted)
    df.write.mode("overwrite").partitionBy("doc_id").parquet(path)


def parsing_report(extracted: DataFrame) -> DataFrame:
    """Per-table report — `Table.parsing_report` (`camelot/core.py:373-384`):
    accuracy / whitespace / order / page(≙doc_id), plus grid shape."""
    t = F.explode("tables")
    return extracted.select("doc_id", t.alias("t")).select(
        "doc_id",
        F.col("t.order").alias("table_order"),
        F.round("t.accuracy", 2).alias("accuracy"),
        F.round("t.whitespace", 2).alias("whitespace"),
        F.col("t.nrows").alias("nrows"),
        F.col("t.ncols").alias("ncols"),
    )


def lineage_report(extracted: DataFrame) -> DataFrame:
    """Per-partition operational report from the lineage struct every
    extracted row carries (north_rule: "per-partition lineage +
    metrics"): docs processed, error count, total/max kernel time, span
    volume — the table an operator reads to find the slow or poisoned
    partition of a 10^12-doc run. One partial-aggregated groupBy on a
    small int key; never touches span bodies."""
    return (
        extracted.groupBy(F.col("lineage.partition_id").alias("partition_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("lineage.error").isNotNull(), 1).otherwise(0))
            .cast("bigint").alias("n_errors"),
            F.sum("lineage.elapsed_us").cast("bigint").alias("elapsed_us"),
            F.max("lineage.elapsed_us").cast("bigint").alias("max_doc_us"),
            F.sum("lineage.n_input_spans").cast("bigint").alias("n_input_spans"),
            F.sum("n_tables").cast("bigint").alias("n_tables"),
        )
        .select(F.col("partition_id").cast("int").alias("partition_id"),
                "n_docs", "n_errors", "elapsed_us", "max_doc_us",
                "n_input_spans", "n_tables")
    )


def span_stats(extracted: DataFrame) -> DataFrame:
    """Per-document QA over the interleaved span sequence — the output
    contract the north rule grades on (span-sequence equality of
    (kind, text, media_ref, order)) turned into an auditable table:
    per-kind counts and text volume, media-ref integrity (every media
    span must carry a ref), and order contiguity (orders are exactly
    0..n-1). A downstream consumer checks this table instead of
    re-walking 10^12 span arrays.

    Pure per-row array folds — zero shuffle, scan-local; the whole
    operator lives in one codegen stage."""
    spans = F.col("spans")

    def of_kind(k):
        return F.filter(spans, lambda s: s["kind"] == F.lit(k))

    def chars(arr):
        return F.aggregate(
            arr, F.lit(0).cast("long"),
            lambda a, s: a + F.length(F.coalesce(s["text"], F.lit(""))))

    orders = F.transform(spans, lambda s: s["order"].cast("long"))
    contiguous = (
        (F.size(spans) == 0)
        | (
            (F.array_min(orders) == 0)
            & (F.array_max(orders) == F.size(spans) - 1)
            & (F.size(F.array_distinct(orders)) == F.size(spans))
        )
    )
    media = of_kind("media")
    media_ok = F.forall(media, lambda s: s["media_ref"].isNotNull())
    return extracted.select(
        "doc_id",
        F.size(spans).cast("bigint").alias("n_spans"),
        F.size(of_kind("cell")).cast("bigint").alias("n_cells"),
        F.size(of_kind("prose")).cast("bigint").alias("n_prose"),
        F.size(media).cast("bigint").alias("n_media"),
        chars(of_kind("cell")).alias("cell_chars"),
        chars(of_kind("prose")).alias("prose_chars"),
        contiguous.cast("int").alias("order_contiguous"),
        F.coalesce(media_ok, F.lit(True)).cast("int").alias("media_refs_ok"),
    )


def write_training_shards(documents: DataFrame, path: str, n_shards: int,
                          epoch: int) -> None:
    """Materialize the deterministic training shuffle
    (``tdp.sampling.shuffle_shards``): one directory per shard, rows
    inside each shard's files in (order_key, doc_id) order — the
    layout a sequential trainer streams shard-by-shard for a
    reproducible, ingest-order-decorrelated epoch. The doc_id
    tiebreaker keeps the output deterministic even when order_key
    collides (ids beyond one 2^32 window, or an un-deduped input).
    ``epoch`` re-salts shard AND order (an independent deterministic
    shuffle per training epoch — write each epoch to its own path).

    Scale shape: ONE hash-partition exchange on the shard id (the
    unavoidable data movement of a global shuffle), then an in-task
    sort per shard — never a global sort, never a corpus-cardinality
    window. Deterministic end to end: shard and order_key are pure
    functions of doc_id, the exchange is hash-by-shard, and the
    per-partition sort fixes row order regardless of the input's
    partitioning — byte-identical output for any cluster layout."""
    from .tdp.sampling import _epoch_mults, order_key_expr, shard_expr

    m1, m2 = _epoch_mults(epoch)
    keyed = documents.withColumns({
        "shard": shard_expr(n_shards, mult=m1),
        "order_key": order_key_expr(mult=m2),
    })
    (
        keyed.repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", "order_key", "doc_id")
        .write.mode("overwrite").partitionBy("shard").parquet(path)
    )
