"""Sinks (SURVEY.md §2.1 S3/S4/S6).

The reference writes single CSV files from driver memory
(`df.to_csv(path, sep='|')`, NB cells 17/80/82;
`writePredictionsToFile`, src/TextClassification.py:431-444). At scale
the default is a partitioned directory write; `single_file=True` is the
small-output compat mode (coalesce(1) — only for driver-sized results
like prediction files and curves, never for the corpus itself).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType, StructType


def orderable(dt) -> bool:
    """Whether Spark can sort or compare values of type ``dt``: a map,
    at any nesting depth, cannot be ordered."""
    if isinstance(dt, MapType):
        return False
    if isinstance(dt, ArrayType):
        return orderable(dt.elementType)
    if isinstance(dt, StructType):
        return all(orderable(f.dataType) for f in dt.fields)
    return True


def write_pipe_csv(
    df: DataFrame, path: str, sep: str = "|", single_file: bool = False, mode: str = "overwrite"
) -> None:
    """S3 — `|`-separated CSV sink (ref NB cells 17, 80, 82)."""
    out = df.coalesce(1) if single_file else df
    out.write.mode(mode).csv(path, sep=sep, header=True)


def write_predictions(
    df: DataFrame,
    path: str,
    pred_col: str = "PRED",
    label_col: str = "TRUE",
    single_file: bool = True,
) -> None:
    """S3 — prediction sink, `PRED|TRUE` layout.

    Ref: writePredictionsToFile (src/TextClassification.py:431-444;
    src/NLP_functions.py:214-227).
    """
    out = df.select(F.col(pred_col).alias("PRED"), F.col(label_col).alias("TRUE"))
    write_pipe_csv(out, path, sep="|", single_file=single_file)


def export_tree_debug(model, path: str) -> None:
    """S6 — export a fitted decision-tree structure as text.

    Plain-text stand-in (Spark's ``toDebugString``); see
    :func:`export_tree_graphviz` for the reference-format .dot export.
    """
    with open(path, "w") as fh:
        fh.write(model.toDebugString)


def export_tree_graphviz(
    model,
    path: str,
    feature_names: list[str] | None = None,
    class_names: tuple[str, str] = ("POSITIVE", "NEGATIVE"),
    tree_index: int = 0,
) -> str:
    """S6 — write a fitted tree as a graphviz ``digraph`` .dot file.

    Ref: exportTreeGraphViz (src/NLP_functions.py:637-661) — sklearn's
    ``tree.export_graphviz(model, feature_names=lbls,
    class_names=['POSITIVE','NEGATIVE'], filled, rounded,
    proportion=True)``, viewable at viz-js.com. This walks the fitted
    Spark tree's public node structure (rootNode / split / children via
    the JVM model) and emits the same shape: one box node per tree
    node labeled with the split (``name <= threshold`` for continuous,
    ``name in {...}`` for categorical), impurity, and predicted class;
    ``True``/``False`` edge head-labels on the root's outgoing edges.

    ``model`` may be a DecisionTreeClassificationModel or an ensemble
    (RandomForest / GBT) — ``tree_index`` picks the subtree, matching
    the reference's "Decision Tree or subtree from Random Forest or
    Gradient Boosting". ``class_names[i]`` names class ``i`` (the
    reference maps class 0 → POSITIVE). Returns the dot source.
    """
    if hasattr(model, "trees"):
        model = model.trees[tree_index]
    root = model._java_obj.rootNode()

    def fname(idx: int) -> str:
        if feature_names is not None and 0 <= idx < len(feature_names):
            return feature_names[idx]
        return f"feature_{idx}"

    def esc(s: str) -> str:
        return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

    lines = [
        "digraph Tree {",
        'node [shape=box, style="filled, rounded", color="black", '
        'fontname="helvetica"] ;',
        'edge [fontname="helvetica"] ;',
    ]
    counter = [0]

    def walk(node) -> int:
        my_id = counter[0]
        counter[0] += 1
        pred = int(node.prediction())
        cls = class_names[pred] if pred < len(class_names) else str(pred)
        impurity = node.impurity()
        is_internal = "InternalNode" in node.getClass().getName()
        if is_internal:
            split = node.split()
            idx = split.featureIndex()
            if "ContinuousSplit" in split.getClass().getName():
                cond = f"{esc(fname(idx))} &le; {split.threshold():.4g}"
            else:
                cats = sorted(split.leftCategories())
                shown = ", ".join(f"{c:g}" for c in cats[:5])
                if len(cats) > 5:
                    shown += ", …"
                cond = f"{esc(fname(idx))} in {{{shown}}}"
            label = f"<{cond}<br/>impurity = {impurity:.4g}<br/>class = {esc(cls)}>"
            fill = "#ffffff"
        else:
            label = f"<impurity = {impurity:.4g}<br/>class = {esc(cls)}>"
            fill = "#e58139" if pred == 0 else "#399de5"
        lines.append(f'{my_id} [label={label}, fillcolor="{fill}"] ;')
        if is_internal:
            left_id = walk(node.leftChild())
            right_id = walk(node.rightChild())
            if my_id == 0:
                lines.append(
                    f'{my_id} -> {left_id} [labeldistance=2.5, labelangle=45, '
                    'headlabel="True"] ;'
                )
                lines.append(
                    f'{my_id} -> {right_id} [labeldistance=2.5, labelangle=-45, '
                    'headlabel="False"] ;'
                )
            else:
                lines.append(f"{my_id} -> {left_id} ;")
                lines.append(f"{my_id} -> {right_id} ;")
        return my_id

    walk(root)
    lines.append("}")
    dot = "\n".join(lines)
    with open(path, "w") as fh:
        fh.write(dot)
    return dot


def write_training_shards(
    df: DataFrame,
    path: str,
    key_col: str,
    n_shards: int | None = None,
    target_rows_per_shard: int | None = None,
    fmt: str = "parquet",
    qc_rules=None,
) -> int | tuple[int, dict]:
    """Deterministically sharded corpus sink for training-data exports.

    The output side of the 100 TB story: naive ``df.write`` inherits
    whatever partitioning the last shuffle left (thousands of skewed
    files, or a handful of giant ones), and re-runs of the same
    pipeline produce differently-composed files. This sink makes shard
    membership a *function of the data*:

    - ``shard = md5(key) % n_shards`` (the repo's cross-engine hash) —
      every row lands in the same shard on any cluster, any
      parallelism, any input partitioning;
    - one ``repartition`` onto the shard id, then a directory-partition
      write (``shard=K/``) — exactly one file per shard, so downstream
      loaders get uniformly-sized, addressable shards;
    - rows inside each shard are sorted by key plus ALL remaining
      columns as tie-breaks, making file contents byte-reproducible
      even when ``key_col`` has duplicates (a sort on the key alone
      would leave the order among equal keys engine-dependent).
      Columns whose types Spark cannot sort (maps) are skipped as
      tie-breaks; if every row of a shard is fully identical on the
      sortable columns, any residual order among those duplicate rows
      is immaterial to content equality.

    ``n_shards`` may be given directly, or derived from
    ``target_rows_per_shard`` (costs one count pass — at scale, pass
    ``n_shards`` from a known corpus size instead). ``fmt="json"``
    writes JSONL, the common training-corpus interchange format.
    Returns the shard count.

    ``qc_rules`` (optional, mapping metric name → boolean violation
    Column, the :func:`~diagnosisextraction_ml_spark.operators.profile.
    check_expectations` convention) rides QC counters on the write
    itself via ``Dataset.observe`` — the sink IS the action the
    pipeline already performs, so delivered volume and violation
    counts are certified with ZERO extra scans (at 100 TB a follow-up
    validation pass re-reads everything you just wrote). With rules
    the return becomes ``(n_shards, metrics)`` where ``metrics`` is
    ``{"rows": delivered, <rule>: violations, …}`` — ``rows`` counts
    exactly what flowed into the files, so a gate can assert both
    quality and volume. Mind observe_qc's documented Spark 4.1.2
    caveat: a session that has observed must not later run MLlib fits;
    export from a ``spark.newSession()`` when the pipeline also
    trains.
    """
    from diagnosisextraction_ml_spark.functions.hashing import md5_hash64

    if n_shards is None:
        if target_rows_per_shard is None:
            raise ValueError("pass n_shards or target_rows_per_shard")
        n = df.count()
        n_shards = max(1, -(-n // target_rows_per_shard))
    shard = (md5_hash64(F.col(key_col).cast("string")) % F.lit(n_shards)).cast("int")
    out = df.withColumn("shard", shard).repartition(n_shards, F.col("shard"))
    sortable = [
        f.name
        for f in df.schema.fields
        if f.name != key_col and orderable(f.dataType)
    ]
    out = out.sortWithinPartitions("shard", key_col, *sortable)
    obs = None
    if qc_rules is not None:
        from diagnosisextraction_ml_spark.operators.profile import observe_qc

        out, obs = observe_qc(out, qc_rules, name="shard_qc")
    writer = out.write.mode("overwrite").partitionBy("shard")
    if fmt == "parquet":
        writer.parquet(path)
    elif fmt == "json":
        writer.json(path)
    else:
        raise ValueError(f"unsupported fmt {fmt!r}")
    if obs is not None:
        return n_shards, dict(obs.get)
    return n_shards
