"""S1-S6 — reader/writer round trips."""

from __future__ import annotations

import glob
import os

import pyspark.sql.functions as F

from diagnosisextraction_ml_spark.sources.readers import (
    load_table,
    read_ehr_entries,
    read_patient_cache,
    read_predictions,
)
from diagnosisextraction_ml_spark.sources.writers import (
    write_pipe_csv,
    write_predictions,
)


def test_read_ehr_entries(spark, reference_dir):
    df = read_ehr_entries(spark, f"{reference_dir}/sample_data/dummydata.csv")
    assert df.columns == ["PATNR", "annotation", "text"]
    assert dict(df.dtypes)["annotation"] == "boolean"
    assert df.count() == 2000
    assert df.filter(F.col("text").isNull()).count() == 0  # S5 fill


def test_read_patient_cache(spark, reference_dir):
    df = read_patient_cache(spark, f"{reference_dir}/sample_data/autocorrect_dummydata.csv")
    assert df.count() == 668
    assert dict(df.dtypes)["PATNR"] == "double"


def test_predictions_round_trip(spark, reference_dir, tmp_path):
    df = read_predictions(spark, f"{reference_dir}/output_files/predSVM.csv")
    n = df.count()
    out = str(tmp_path / "preds")
    write_predictions(df, out)
    files = glob.glob(os.path.join(out, "part-*.csv"))
    assert len(files) == 1  # single_file mode
    back = read_predictions(spark, out)
    assert back.count() == n
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_pipe_csv_round_trip(spark, tmp_path):
    df = spark.createDataFrame([("a b", 1.0, "y"), ("c", 2.0, "n")], "Text string, PATNR double, Outcome string")
    out = str(tmp_path / "cache")
    write_pipe_csv(df, out, single_file=True)
    back = read_patient_cache(spark, out)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_load_tables(spark, sf_dir):
    assert load_table(spark, sf_dir, "region").count() == 5
    ev = load_table(spark, sf_dir, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"


def test_load_table_binds_to_child_session(spark, sf_dir):
    """The reader memo lives on the session: a ``newSession()`` child
    gets a DataFrame bound to itself, never its parent's memoized one
    (child-session isolation, as observe_qc relies on)."""
    parent = load_table(spark, sf_dir, "region")
    assert load_table(spark, sf_dir, "region") is parent  # memo hit
    child = spark.newSession()
    df = load_table(child, sf_dir, "region")
    assert df.sparkSession is child
    assert parent.sparkSession is spark


def test_load_table_memo_replaces_stale_entry(spark, tmp_path):
    """Rewriting a table's files changes its freshness token: the next
    load re-lists the new files and REPLACES the memo entry (one entry
    per path) instead of adding a second one."""
    sess = spark.newSession()
    sf = str(tmp_path)
    sess.range(3).write.parquet(f"{sf}/region.parquet")
    assert load_table(sess, sf, "region").count() == 3
    sess.range(7).write.mode("overwrite").parquet(f"{sf}/region.parquet")
    assert load_table(sess, sf, "region").count() == 7
    assert len(vars(sess)["_table_memo"]) == 1


# Canonical post-load dtype snapshot for every TESTDATA table. The
# driver regenerates the parquet between rounds and has already drifted
# once (events.ts TIMESTAMP(NANOS) → TIMESTAMP_NTZ, which silently broke
# sessionize/streaming/bench for two rounds). This literal snapshot
# turns the next drift into a first-pytest-run failure instead of a
# CORRECTNESS surprise. If it fires: decide whether load_table should
# normalize the new shape (like events.ts) or the snapshot should move.
TESTDATA_DTYPES = {
    "region": [("r_regionkey", "int"), ("r_name", "string")],
    "nation": [("n_nationkey", "int"), ("n_name", "string"), ("n_regionkey", "int")],
    "customer": [
        ("c_custkey", "bigint"),
        ("c_name", "string"),
        ("c_nationkey", "int"),
        ("c_acctbal", "double"),
        ("c_mktsegment", "string"),
    ],
    "supplier": [
        ("s_suppkey", "bigint"),
        ("s_name", "string"),
        ("s_nationkey", "int"),
        ("s_acctbal", "double"),
    ],
    "part": [
        ("p_partkey", "bigint"),
        ("p_name", "string"),
        ("p_brand", "string"),
        ("p_type", "string"),
        ("p_size", "int"),
        ("p_retailprice", "double"),
    ],
    "orders": [
        ("o_orderkey", "bigint"),
        ("o_custkey", "bigint"),
        ("o_orderstatus", "string"),
        ("o_totalprice", "double"),
        ("o_orderdate", "timestamp_ntz"),
        ("o_orderpriority", "string"),
    ],
    "lineitem": [
        ("l_orderkey", "bigint"),
        ("l_partkey", "bigint"),
        ("l_suppkey", "bigint"),
        ("l_linenumber", "int"),
        ("l_quantity", "double"),
        ("l_extendedprice", "double"),
        ("l_discount", "double"),
        ("l_tax", "double"),
        ("l_returnflag", "string"),
        ("l_linestatus", "string"),
        ("l_shipdate", "timestamp_ntz"),
    ],
    "events": [
        ("event_id", "bigint"),
        ("ts", "timestamp"),  # normalized by load_table whatever's on disk
        ("user_id", "bigint"),
        ("event_type", "string"),
        ("value", "double"),
        ("props", "string"),
    ],
    "documents": [
        ("doc_id", "bigint"),
        ("text", "string"),
        ("lang", "string"),
        ("source", "string"),
        ("n_chars", "bigint"),
    ],
    "embeddings": [
        ("vec_id", "bigint"),
        ("embedding", "array<float>"),
        ("label", "int"),
    ],
}


def test_testdata_schema_snapshot(spark, sf_dir):
    """Pin the driver testdata contract: full post-load dtype map."""
    from diagnosisextraction_ml_spark.sources.readers import load_tables

    actual = {name: df.dtypes for name, df in load_tables(spark, sf_dir).items()}
    for name, expected in TESTDATA_DTYPES.items():
        assert actual[name] == expected, (
            f"testdata drift in `{name}`: on-disk/post-load dtypes changed.\n"
            f"expected: {expected}\nactual:   {actual[name]}\n"
            "Update load_table normalization or this snapshot deliberately."
        )
    assert set(actual) == set(TESTDATA_DTYPES)


def test_export_tree_debug(spark, tmp_path):
    from pyspark.ml.classification import DecisionTreeClassifier
    from pyspark.ml.linalg import Vectors

    from diagnosisextraction_ml_spark.sources.writers import export_tree_debug

    df = spark.createDataFrame(
        [(Vectors.dense([0.0]), 0), (Vectors.dense([1.0]), 1)] * 5, ["features", "label"]
    )
    model = DecisionTreeClassifier().fit(df)
    path = str(tmp_path / "tree.txt")
    export_tree_debug(model, path)
    assert "DecisionTreeClassificationModel" in open(path).read()


def test_export_tree_graphviz(spark, tmp_path):
    """S6 — reference-format .dot export (exportTreeGraphViz,
    /root/reference/src/NLP_functions.py:637-661): a parseable graphviz
    digraph with one box node per tree node, split conditions using the
    provided feature names, True/False head-labels at the root, and
    POSITIVE/NEGATIVE class names."""
    import re

    from pyspark.ml.classification import DecisionTreeClassifier, RandomForestClassifier
    from pyspark.ml.linalg import Vectors

    from diagnosisextraction_ml_spark.sources.writers import export_tree_graphviz

    rows = [
        (Vectors.dense([0.0, 1.0]), 0),
        (Vectors.dense([0.1, 0.8]), 0),
        (Vectors.dense([1.0, 0.1]), 1),
        (Vectors.dense([0.9, 0.0]), 1),
    ] * 5
    df = spark.createDataFrame(rows, ["features", "label"])
    model = DecisionTreeClassifier(maxDepth=3).fit(df)
    path = str(tmp_path / "tree.dot")
    dot = export_tree_graphviz(model, path, feature_names=["reuma", "artritis"])
    on_disk = open(path).read()
    assert dot == on_disk
    assert dot.startswith("digraph Tree {") and dot.rstrip().endswith("}")
    node_lines = re.findall(r'^(\d+) \[label=<.*>, fillcolor="#[0-9a-f]{6}"\] ;$',
                            dot, flags=re.M)
    edge_lines = re.findall(r"^(\d+) -> (\d+)", dot, flags=re.M)
    assert len(node_lines) >= 3  # root + 2 children minimum
    assert len(edge_lines) == len(node_lines) - 1  # a tree
    assert 'headlabel="True"' in dot and 'headlabel="False"' in dot
    assert "reuma" in dot or "artritis" in dot  # feature names used
    assert "POSITIVE" in dot and "NEGATIVE" in dot
    # every edge source/target is a declared node id
    ids = {n for n in node_lines}
    assert all(a in ids and b in ids for a, b in edge_lines)

    # ensemble path: tree_index picks a subtree from a RandomForest
    rf = RandomForestClassifier(numTrees=3, maxDepth=2, seed=7).fit(df)
    dot_rf = export_tree_graphviz(rf, str(tmp_path / "rf0.dot"), tree_index=1)
    assert dot_rf.startswith("digraph Tree {")


def test_write_training_shards_deterministic(spark, sf_dir, tmp_path):
    """Shard membership is a function of the data: the same corpus
    written from different input partitionings produces identical
    shard directories (same rows per shard, same file count)."""
    import glob

    from diagnosisextraction_ml_spark.sources.readers import load_table
    from diagnosisextraction_ml_spark.sources.writers import write_training_shards

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    n1 = write_training_shards(docs, p1, "doc_id", n_shards=7)
    n2 = write_training_shards(docs.repartition(13), p2, "doc_id", n_shards=7)
    assert n1 == n2 == 7

    def shard_map(path):
        out = {}
        for d in glob.glob(f"{path}/shard=*"):
            k = int(d.rsplit("=", 1)[1])
            files = glob.glob(f"{d}/*.parquet")
            assert len(files) == 1  # exactly one file per shard
            out[k] = sorted(
                r["doc_id"] for r in spark.read.parquet(d).collect()
            )
        return out

    m1, m2 = shard_map(p1), shard_map(p2)
    assert m1 == m2 and set(m1) == set(range(7))
    # round trip: nothing lost
    back = spark.read.parquet(p1)
    assert back.count() == docs.count()
    assert sorted(r["doc_id"] for r in back.collect()) == sorted(
        r["doc_id"] for r in docs.collect()
    )


def test_write_training_shards_jsonl_and_target_rows(spark, sf_dir, tmp_path):
    from diagnosisextraction_ml_spark.sources.readers import load_table
    from diagnosisextraction_ml_spark.sources.writers import write_training_shards

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(100)
    path = str(tmp_path / "jsonl")
    n = write_training_shards(
        docs, path, "doc_id", target_rows_per_shard=30, fmt="json"
    )
    assert n == 4  # ceil(100/30)
    back = spark.read.json(path)
    assert back.count() == 100
    # JSONL on disk: first line of some shard file parses as JSON
    import glob
    import json

    f = sorted(glob.glob(f"{path}/shard=*/part-*"))[0]
    first = open(f).readline()
    assert json.loads(first)["doc_id"] is not None
