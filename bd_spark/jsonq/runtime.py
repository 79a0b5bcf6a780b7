"""Execution entry points for jsonq queries.

The document-stream schema is
``(seq BIGINT, ord ARRAY<BIGINT>, v VARIANT, err STRING)``:
`seq` is the input document index (jq output order is semantic; Spark
rows are unordered, so order is data), `ord` the burst-position path,
`err` the in-band error channel (entry.rs:30-32).

`ord` is an order key within one `seq`, not a value to compare across
tiers: sorting by `(seq, ord)` gives jq output order on either tier,
but its depth differs by tier. The staged tier emits at most one row
per input row and keeps the input's `ord`; only the interp tier
appends a position (one per program run), and an upstream error row
keeps its `ord` on both tiers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bd_spark.catalog import rebalance
from bd_spark.jsonq import parser
from bd_spark.jsonq.compiler import compile_query


class JsonQ:
    """Compile and run bd/jq queries on a SparkSession.

    >>> jq = JsonQ(spark)
    >>> jq.run_texts(".foo", ['{"foo": 10}'])
    [(10, None)]
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark

    # -- building document streams ------------------------------------
    def stream_from_texts(self, texts: list[str]) -> DataFrame:
        df = self.spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "seq long, doc_text string"
        )
        return self.stream_from_text_column(df, "doc_text")

    def stream_from_text_column(
        self, df: DataFrame, col: str, seq_col: str | None = "seq"
    ) -> DataFrame:
        """Document stream from a JSON-text column. Unparseable text
        becomes an error entry (in-band, like the reference's parse
        errors)."""
        seq = (
            F.col(seq_col)
            if seq_col and seq_col in df.columns
            else F.monotonically_increasing_id()
        )
        v = F.try_parse_json(F.col(col))
        err = F.when(
            v.isNull() & F.col(col).isNotNull(), F.concat(F.lit("parse error: "), F.col(col))
        )
        return rebalance(
            df.select(
                seq.cast("long").alias("seq"),
                F.array().cast("array<long>").alias("ord"),
                F.when(err.isNotNull(), F.parse_json(F.lit("null"))).otherwise(v).alias("v"),
                err.alias("err"),
            )
        )

    # Column types whose to_variant_object encoding matches the JSON
    # text round trip (strings and integers; doubles are EXCLUDED:
    # parse_json normalizes "6.0" into the int tower while a variant
    # DOUBLE keeps its float tag — the text path's documented
    # behavior must not silently change).
    _NATIVE_DOC_TYPES = frozenset(
        ("string", "bigint", "int", "smallint", "tinyint", "boolean")
    )

    def stream_from_table(self, df: DataFrame) -> DataFrame:
        """Any relational DataFrame as a document stream: each row is
        one JSON object doc (FIXTURES.md §5 star-schema bridge).

        r7: when every column is a string/integer/boolean, the doc
        variant is assembled NATIVELY (to_variant_object over the row
        struct — keys sorted by the variant encoder) instead of the
        to_json + parse_json text round trip, which was the shared
        ~1.3 s floor of every table-backed jq query at sf0.1. Frames
        carrying doubles/timestamps/arrays keep the text path so the
        parse_json normalization semantics stay bit-identical."""
        native_ok = all(
            f.dataType.simpleString() in self._NATIVE_DOC_TYPES
            for f in df.schema.fields
        )
        struct_ = F.struct(*df.columns)
        text_doc = F.parse_json(F.to_json(struct_))
        if native_ok:
            # to_variant_object keeps NULL struct fields as json-null
            # entries where to_json OMITS them (verified) — rows with
            # any NULL take the text path so keys/length/has agree
            any_null = None
            for c in df.columns:
                n = F.col(c).isNull()
                any_null = n if any_null is None else (any_null | n)
            doc = F.when(any_null, text_doc).otherwise(
                F.to_variant_object(struct_)
            )
        else:
            doc = text_doc
        # seq is assigned BEFORE the (possible) rebalance shuffle, so
        # ids stay stable relative to the narrow source layout
        return rebalance(
            df.select(
                F.monotonically_increasing_id().alias("seq"),
                F.array().cast("array<long>").alias("ord"),
                doc.alias("v"),
                F.lit(None).cast("string").alias("err"),
            )
        )

    # -- running -------------------------------------------------------

    def run(self, query: str, stream: DataFrame, ordered: bool = True) -> DataFrame:
        """Run a query on a document stream.

        ``ordered=True`` (CLI / conformance sinks) appends the jq
        output order ``orderBy(seq, ord)`` — jq output order is
        semantic there. Gate/analytics callers that re-aggregate or
        hash order-insensitively pass ``ordered=False``: at scale the
        global sort is a pure waste (a full range-shuffle of every
        result row) and Catalyst cannot always prove it removable.

        Every call parses and compiles afresh, so ``last_tier()`` is
        always set. No compiled plan is reused: a file source's plan
        stays the same when files land in or leave its path, so a
        reused plan would answer from the old files.
        """
        out = compile_query(parser.parse(query))(stream)
        return out.orderBy("seq", "ord") if ordered else out

    def run_texts(self, query: str, texts: list[str]) -> list[tuple[object, str | None]]:
        """Convenience for tests: returns [(python_value, err), ...]
        in output order."""
        import json

        out = self.run(query, self.stream_from_texts(texts))
        rows = out.select(F.to_json("v").alias("j"), "err").collect()
        return [
            (json.loads(r.j) if r.j is not None else None, r.err) for r in rows
        ]

    def run_values(self, query: str, texts: list[str]) -> list[object]:
        """Non-error output values only (error entries excluded)."""
        return [val for val, err in self.run_texts(query, texts) if err is None]
