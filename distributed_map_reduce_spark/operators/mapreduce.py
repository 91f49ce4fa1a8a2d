"""The MapReduce compatibility API — the reference's actual user surface.

The reference's entire programming model is one pair of user functions
(/root/reference/src/mr/worker.go:280-281):

    map(filename, contents) -> [(key, value)]
    reduce(key, [values])   -> value

with string keys/values, hash partitioning into R buckets, per-partition
sort-by-key, and a holistic group-fold (worker.go:197-212; identical
algorithm in the sequential oracle, src/main/mrsequential.go:68-84).

Here that contract is an RDD pipeline:

    flatMap(mapf) -> groupByKey(numPartitions=R) -> map(reducef)

Everything the reference hand-rolls around it is a Spark built-in and is
deliberately NOT reimplemented (SURVEY §4.1): task scheduling + phase
barrier (rpc.go:100-154), 10 s straggler re-dispatch (rpc.go:79-98 ->
spark.speculation), duplicate-completion dedup (rpc.go:156-186 -> task
commit protocol), JSON shuffle files (worker.go:255-261 -> Tungsten
binary shuffle), atomic output rename (worker.go:184-216 -> output
committer).

Semantics kept faithfully:
- holistic reduce: reducef sees ALL values for a key in one call; no
  combiner, no partial aggregation — same memory bound as the reference
  (worker.go:162-181 materializes everything). Algebraic workloads
  should use the DataFrame queries instead, which partial-aggregate.
- value order within a key is unspecified (the reference sorts by key
  only, worker.go:29-34; Go's sort.Sort is unstable) — apps that need
  order sort inside reducef, exactly like crash.go:45-55 does.
- output is `key value` text lines, R partition files, lexicographically
  comparable after concatenation+sort (test-mr.sh:103).

Scale note: groupByKey ships every value across the shuffle — that is
the reference's contract, priced in. At 100 TB with a hot key this
needs either the DataFrame path or a two-level fold; ``map_reduce``
intentionally mirrors the reference instead of silently combining.
At small inputs a job's cost is not its data but its Python task count
times the per-task overhead: one map task per input slice plus
``n_reduce`` reduce tasks (4 + 10 at local[4]), each paying the Python
worker's set-up (~0.18 s CPU under Spark's stock daemon on CPython
3.11, ~15 ms under the engine's ``worker_daemon``; see ``session``).
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterable

from pyspark.rdd import RDD
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import QuerySpec
from ..sources import load_table

MapF = Callable[[str, str], Iterable[tuple[str, str]]]
ReduceF = Callable[[str, list[str]], str]


def map_reduce(
    spark: SparkSession,
    inputs: RDD | list[tuple[str, str]],
    mapf: MapF,
    reducef: ReduceF,
    n_reduce: int = 10,
) -> DataFrame:
    """Run a classic MR job; returns DataFrame(key string, value string).

    ``inputs``: RDD of (name, contents) or a plain list of such pairs
    (each pair plays one input file, rpc.go:219-228's one-task-per-file).
    """
    sc = spark.sparkContext
    rdd = inputs if isinstance(inputs, RDD) else sc.parallelize(inputs)
    out = (
        rdd.flatMap(lambda nc: mapf(nc[0], nc[1]))
        .groupByKey(numPartitions=n_reduce)
        .map(lambda kv: (kv[0], reducef(kv[0], list(kv[1]))))
    )
    return spark.createDataFrame(out, schema="key string, value string")


def write_mr_output(df: DataFrame, path: str, n_reduce: int = 10) -> None:
    """F8 text sink: `key value` lines across R files, atomic commit via
    Spark's output committer (replaces worker.go:184-216's temp+rename)."""
    (
        df.repartition(n_reduce, "key")
        .select(F.format_string("%s %s", "key", "value"))
        .write.mode("overwrite")
        .text(path)
    )


# --- the reference's shipped applications, as Python map/reduce pairs -------

_TOKEN_RE = re.compile(r"[^a-zA-Z]+")


def wc_map(name: str, contents: str) -> list[tuple[str, str]]:
    # wc.go:19-32 — split on non-letters, emit (word, "1").
    return [(w, "1") for w in _TOKEN_RE.split(contents) if w]


def wc_reduce(key: str, values: list[str]) -> str:
    # wc.go:37-40 — count of occurrences.
    return str(len(values))


def indexer_map(name: str, contents: str) -> list[tuple[str, str]]:
    # indexer.go:20-31 — distinct words per document, emit (word, docname).
    return [(w, name) for w in {t for t in _TOKEN_RE.split(contents) if t}]


def indexer_reduce(key: str, values: list[str]) -> str:
    # indexer.go:36-39 — "<n> <doc1,doc2,...>" with docs sorted.
    docs = sorted(values)
    return f"{len(docs)} {','.join(docs)}"


def sorted_join_map(name: str, contents: str) -> list[tuple[str, str]]:
    # crash.go:34-43 emits fixed keys per file; our tabular analog emits
    # (lang, source) per document — the reduce semantics are what Q22 pins.
    lang, source = contents.split("\x00", 1)
    return [(lang, source)]


def sorted_join_reduce(key: str, values: list[str]) -> str:
    # crash.go:45-55 — copy, sort, join with a single space (keeps dups).
    return " ".join(sorted(values))


# --- MR-backed declared queries ---------------------------------------------

def _docs_as_files(spark: SparkSession, sf_dir: str) -> RDD:
    """documents rows as (filename, contents) pairs — each row plays one
    input file of the reference corpus (pg-*.txt)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.rdd.map(lambda r: (str(r[0]), r[1]))


def q20_mr_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    return map_reduce(spark, _docs_as_files(spark, sf_dir), wc_map, wc_reduce)


Q20_ORACLE = """
SELECT token AS key, CAST(COUNT(*) AS VARCHAR) AS value
FROM (SELECT unnest(string_split_regex(text, '[^a-zA-Z]+')) AS token FROM documents)
WHERE token <> ''
GROUP BY token
ORDER BY key
"""


def q21_mr_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return map_reduce(
        spark, _docs_as_files(spark, sf_dir), indexer_map, indexer_reduce
    )


Q21_ORACLE = """
SELECT token AS key,
       CAST(COUNT(DISTINCT doc_id) AS VARCHAR) || ' ' ||
       STRING_AGG(DISTINCT CAST(doc_id AS VARCHAR), ','
                  ORDER BY CAST(doc_id AS VARCHAR)) AS value
FROM (SELECT doc_id, unnest(string_split_regex(text, '[^a-zA-Z]+')) AS token
      FROM documents)
WHERE token <> ''
GROUP BY token
ORDER BY key
"""


def q22_mr_sorted_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("lang", "source")
    inputs = docs.rdd.map(lambda r: ("doc", f"{r[0]}\x00{r[1]}"))
    return map_reduce(spark, inputs, sorted_join_map, sorted_join_reduce)


Q22_ORACLE = """
SELECT lang AS key,
       STRING_AGG(source, ' ' ORDER BY source) AS value
FROM documents
GROUP BY lang
ORDER BY key
"""

def observed_source_report(spark: SparkSession, sf_dir: str):
    """q229 core, returning ``(DataFrame, Observation)`` so the
    property suite can assert the metric values — the registered
    builder returns only the frame.

    ``df.observe`` is the engine-surface analog of the reference's
    exactly-once invocation counters (src/mrapps/jobcount.go:22-46):
    accumulator-side metrics delivered with the SAME action that
    produces the result, no second scan, while the observed frame's
    ROWS are untouched — so the registered query stays oracle-hashable
    and the run accounting (groups emitted, documents and characters
    consumed) rides along for free.

    Placement rule (the trap pinned in
    tests/properties/test_r15_candidate_probes.py): metrics accumulate
    once per EXECUTION of the observed subtree, and a sort ABOVE the
    observe adds a range-partitioner sampling pass that executes the
    subtree twice, doubling every metric — so the observe node sits
    ABOVE the orderBy here, measuring the final sorted frame exactly
    once per action.

    Scale shape: the report is one map-side-combined hash aggregate on
    source (20 groups); the observe adds a driver-collected accumulator
    over the 20-row result — zero extra distributed work."""
    from pyspark.sql import Observation

    docs = load_table(spark, sf_dir, "documents")
    report = (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("source")
    )
    obs = Observation("q229_jobcount")
    observed = report.observe(
        obs,
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("n_docs").alias("docs_consumed"),
        F.sum("total_chars").alias("chars_consumed"),
    )
    return observed, obs


def q229_observed_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    return observed_source_report(spark, sf_dir)[0]


Q229_ORACLE = """
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY source
ORDER BY source
"""


QUERIES = [
    QuerySpec("q20_mr_wordcount", q20_mr_wordcount, Q20_ORACLE,
              "map_reduce() compat API running the wc app (A1) — golden twin of q1",
              ("mapreduce", "reference-app")),
    QuerySpec("q21_mr_inverted_index", q21_mr_inverted_index, Q21_ORACLE,
              "map_reduce() running the indexer app (A2), '<n> <docs>' format",
              ("mapreduce", "reference-app")),
    QuerySpec("q22_mr_sorted_values", q22_mr_sorted_values, Q22_ORACLE,
              "map_reduce() running crash.go's sorted-values join semantics (A3/A4)",
              ("mapreduce", "reference-app")),
    QuerySpec("q229_observed_report", q229_observed_report, Q229_ORACLE,
              "df.observe jobcount twin: per-source report with "
              "accumulator-side run metrics on the same action (A5)",
              ("mapreduce", "reference-app", "observe")),
]
