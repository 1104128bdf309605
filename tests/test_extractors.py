"""run_extractors: the fused pass over a chosen set of extractor families.

Pins golden P/R of family subsets, that the families partition the full
pass, and the plan shape (one narrow pass; the infobox UDF only when the
infobox family is chosen)."""

import collections

import pytest
from pyspark.sql import functions as F

from kgforge import corpus as C
from kgforge.compare import quad_pr
from kgforge.extractors import ALL_EXTRACTORS, run_extractors
from kgforge.parse import prepare

N = 150


@pytest.fixture(scope="module")
def parsed(spark):
    df = prepare(C.generate_corpus_df(spark, N, partitions=4)).persist()
    df.count()
    yield df
    df.unpersist()


@pytest.mark.parametrize("names", [
    ["infobox"],
    ["images", "gallery_images"],
    ["labels", "redirects", "category_labels", "skos_categories", "article_templates"],
])
def test_subset_matches_golden(spark, parsed, names):
    got = run_extractors(parsed, names)
    datasets = [r[0] for r in got.select("dataset").distinct().collect()]
    golden = C.golden_df(spark, N).filter(F.col("dataset").isin(datasets))
    pr = quad_pr(got, golden)
    assert pr.engine > 0 and pr.precision == 1.0 and pr.recall == 1.0, str(pr)


def test_single_family_runs_partition_the_full_run(parsed):
    def rows(df):
        return collections.Counter(tuple(r) for r in df.collect())

    singles = [run_extractors(parsed, [name]) for name in ALL_EXTRACTORS]
    union = singles[0]
    for df in singles[1:]:
        union = union.unionByName(df)
    assert rows(union) == rows(run_extractors(parsed))


def test_unknown_family_is_rejected(parsed):
    with pytest.raises(KeyError):
        run_extractors(parsed, ["labels", "no_such_family"])


def _plan_nodes(df) -> list[str]:
    """Node names of the executed plan, not descending into the cached
    relation's own plan."""
    out = []

    def walk(node):
        if node.nodeName() == "AdaptiveSparkPlan":
            return walk(node.executedPlan())
        out.append(node.nodeName())
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def test_plan_shape(parsed):
    full = _plan_nodes(run_extractors(parsed))
    assert not any("Exchange" in n for n in full), full
    assert full.count("ArrowEvalPython") == 1, full
    subset = _plan_nodes(run_extractors(parsed, ["labels", "images", "file_types"]))
    assert not any("Exchange" in n or "Python" in n for n in subset), subset
