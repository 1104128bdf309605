"""The benchmark's inputs are a pure function of the seed."""

import hashlib
import json

from kgbench import inputs as I


def _digest(rows, path) -> str:
    I.write_rows(rows, str(path))
    return hashlib.sha256(path.read_bytes()).hexdigest()


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    for name, make in {
        "pages": lambda s: I.wiki_pages(s, 0, 120, 120),
        "live": lambda s: (lambda f: f.base_rows() + f.batch_rows(1) + f.batch_rows(2))(I.LiveFeed(s, 60, 5)),
        "wikidata": lambda s: I.wikidata_entities(s, 50)[0],
    }.items():
        assert _digest(make(7), tmp_path / f"{name}-a.parquet") == _digest(make(7), tmp_path / f"{name}-b.parquet")
        assert _digest(make(7), tmp_path / f"{name}-c.parquet") != _digest(make(8), tmp_path / f"{name}-d.parquet")


def test_another_seed_changes_the_pages_not_only_their_order():
    a, b = I.wiki_pages(1, 0, 200, 200), I.wiki_pages(2, 0, 200, 200)
    assert [r["path"] for r in a] == [r["path"] for r in b]  # the same pages ...
    changed = sum(x["content"] != y["content"] for x, y in zip(a, b))
    assert changed > 50  # ... whose planted facts (infobox values, dates) differ
    assert all(x["commit"] != y["commit"] for x, y in zip(a, b))
    assert I.golden_keys(1, 200) != I.golden_keys(2, 200)


def test_seed_override_is_restored():
    from kgforge import corpus as C

    before = C.SEED
    I.wiki_pages(5, 0, 3, 3)
    assert C.SEED == before


def test_live_feed_tracks_the_edited_corpus():
    feed = I.LiveFeed(3, base=50, batch=4)
    base = feed.base_rows()
    b1 = feed.batch_rows(1)
    assert len(b1) == 8 and len(feed.edited_rows()) == 54
    edited = [r for r in b1 if r["path"] in {x["path"] for x in base}]
    assert len(edited) == 4 and all("Live edit 1" in r["content"] for r in edited)
    assert {r["content"] for r in feed.edited_rows()} >= {r["content"] for r in b1}


def test_expected_graph_changes_only_twin_country():
    golden = I.golden_keys(4, 2000)
    expected = I.expected_graph(golden)
    assert {t[2] for t in golden ^ expected} == {I.TWIN_COUNTRY}
    assert not any(t[5] == "fr" and t[2] == I.TWIN_COUNTRY for t in expected)


def test_wikidata_expected_counts_follow_the_documents():
    rows, expected = I.wikidata_entities(9, 40)
    docs = [json.loads(r["content"]) for r in rows]
    items = [d for d in docs if d["id"].startswith("Q")]
    assert expected["wikidata_aliases"] == sum(len(d["aliases"]["en"]) for d in items)
    assert expected["wikidata_raw"] == sum(8 + ("P18" in d["claims"]) for d in items)
    assert expected["wikidata_property"] == 7 * (len(docs) - len(items))
