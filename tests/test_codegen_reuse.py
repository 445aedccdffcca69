"""Generated code is reused across ops: the second run of a fixed sequence
(one build_kg plus a few SPARQL shapes, about 200 generated classes)
compiles almost nothing.  With Spark's default 100-entry codegen cache the
sequence evicts its own classes and the second run recompiles them all."""

from trident_spark.pipeline import build_kg
from trident_spark.pipeline.alias_dict import alias_dict_df
from trident_spark.pipeline.pages import pages_df
from trident_spark.query.sparql import query

COLS = ("subj string, pred string, obj_lexical string, obj_kind string, "
        "obj_datatype string, obj_lang string")

SHAPES = [
    """PREFIX s: <https://schema.org/>
       SELECT ?p ?n ?o WHERE { ?p s:name ?n . ?p s:worksFor ?o
                               FILTER(STRSTARTS(?n, "A")) }""",
    """PREFIX s: <https://schema.org/>
       SELECT ?p ?n ?o WHERE { ?p s:name ?n OPTIONAL { ?p s:worksFor ?o } }""",
    "SELECT ?x WHERE { <http://x/0> <http://p/next>+ ?x }",
]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _sequence(spark, pages, graph) -> None:
    res = build_kg(pages, alias_dict=alias_dict_df(spark))
    _noop(res.terms)
    _noop(res.triples)
    for text in SHAPES:
        query(graph, text).collect()


def test_second_run_reuses_generated_code(spark):
    pages = pages_df(spark, 60, partitions=4).localCheckpoint(eager=True)
    rows = [(f"http://x/{i}", "https://schema.org/name", f"A{i}", "literal",
             None, None) for i in range(20)]
    rows += [(f"http://x/{i}", "https://schema.org/worksFor",
              f"http://x/{i + 1}", "iri", None, None) for i in range(0, 20, 2)]
    rows += [(f"http://x/{i}", "http://p/next", f"http://x/{i + 1}", "iri",
              None, None) for i in range(12)]
    graph = spark.createDataFrame(rows, COLS).localCheckpoint(eager=True)
    metric = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
              .METRIC_COMPILATION_TIME())

    _sequence(spark, pages, graph)
    first = metric.getCount()
    _sequence(spark, pages, graph)
    again = metric.getCount() - first
    assert again <= 10, f"second run compiled {again} classes"
