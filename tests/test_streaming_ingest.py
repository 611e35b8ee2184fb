"""The streaming ingests' shared micro-batch path (streaming/events.py):
one foreachBatch writer, one "nothing written yet" read, and a schema
fault that fails the query instead of switching off the uniqueness
anti-join."""

import ast
import pathlib

import pytest


def test_gate_fails_loudly_on_table_without_id_column(spark, tmp_path):
    """A sink table that exists but lacks the id column is a schema
    fault, not "no table yet": the trigger fails and names the column,
    and nothing is appended past the existing rows."""
    from pyspark.errors import StreamingQueryException

    from minivectordb_spark.operators.text import default_classifier_weights
    from minivectordb_spark.streaming import stream_quality_ingest

    table_path = str(tmp_path / "quality_out")
    spark.createDataFrame([(7, "aa bb")], "other_id long, text string").write.parquet(
        table_path
    )
    src = str(tmp_path / "docs_in")
    docs = spark.createDataFrame([(1, "aa bb cc dd")], "doc_id long, text string")
    docs.write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = stream_quality_ingest(
        stream,
        default_classifier_weights(64, seed=5),
        table_path,
        str(tmp_path / "ck"),
        min_score=0.0,
    ).start()
    with pytest.raises(StreamingQueryException, match="doc_id"):
        q.awaitTermination(120)
    assert spark.read.parquet(table_path).count() == 1


def test_read_written_is_none_only_before_the_first_write(spark, tmp_path):
    from minivectordb_spark.streaming.events import _read_written

    assert _read_written(spark, str(tmp_path / "absent")) is None
    (tmp_path / "empty").mkdir()
    assert _read_written(spark, str(tmp_path / "empty")) is None
    spark.createDataFrame([(1,)], "doc_id long").write.parquet(str(tmp_path / "t"))
    assert _read_written(spark, str(tmp_path / "t")).columns == ["doc_id"]


def test_streaming_ingest_has_one_micro_batch_path():
    """The package wires ``foreachBatch`` once, and streaming/events.py
    catches ``AnalysisException`` only inside ``_read_written``, so no
    ingest keeps a hand-written trigger or a blanket "table may not
    exist" catch."""
    import minivectordb_spark

    pkg = pathlib.Path(minivectordb_spark.__file__).parent
    wirings = sorted(
        f"{p.relative_to(pkg)}:{node.lineno}"
        for p in pkg.rglob("*.py")
        for node in ast.walk(ast.parse(p.read_text()))
        if isinstance(node, ast.Call)
        and getattr(node.func, "attr", None) == "foreachBatch"
    )
    assert len(wirings) == 1, wirings

    tree = ast.parse((pkg / "streaming" / "events.py").read_text())
    in_reader = {
        id(node)
        for fn in tree.body
        if isinstance(fn, ast.FunctionDef) and fn.name == "_read_written"
        for node in ast.walk(fn)
    }
    stray = [
        h.lineno
        for h in ast.walk(tree)
        if isinstance(h, ast.ExceptHandler)
        and h.type is not None
        and "AnalysisException" in ast.unparse(h.type)
        and id(h) not in in_reader
    ]
    assert stray == []
