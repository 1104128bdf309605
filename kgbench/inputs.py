"""Seeded inputs for the benchmark workloads.

Every input is built in the driver process with pure Python and written as a
parquet file with pyarrow, so the same seed always gives byte-identical files
and the engine only ever sees the generated data.

The synthetic wikitext corpus (``kgforge.corpus``) is a pure function of the
page index and ``corpus.SEED``; the seed of a run replaces ``corpus.SEED``
while the pages (and their golden quads) are generated, which changes the
planted facts and commit ids of every page, not only their order.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import random

import pyarrow as pa
import pyarrow.parquet as pq

from kgforge import corpus as C

CORPUS_COLS = ("repo", "path", "commit", "lang", "content")
_CORPUS_ARROW = pa.schema([pa.field(c, pa.string(), nullable=False) for c in CORPUS_COLS])


@contextlib.contextmanager
def corpus_seed(seed: int):
    """Generate ``kgforge.corpus`` pages and golden quads under ``seed``."""
    old = C.SEED
    C.SEED = f"kgbench-{seed}"
    try:
        yield
    finally:
        C.SEED = old


def write_rows(rows: list[dict], path: str) -> None:
    """Rows of the corpus schema → one parquet file (deterministic bytes)."""
    table = pa.table({c: [r[c] for r in rows] for c in CORPUS_COLS}, schema=_CORPUS_ARROW)
    pq.write_table(table, path)


def wiki_pages(seed: int, lo: int, hi: int, n: int) -> list[dict]:
    """Pages ``lo..hi-1`` of the ``n``-page synthetic corpus under ``seed``."""
    with corpus_seed(seed):
        return [C.corpus_row(i, n) for i in range(lo, hi)]


# Two places where ``corpus.golden_quads`` lags the engine's reference
# semantics; both show only once the corpus has infobox pages in French
# (about 1000 pages and up), so the oracle's own 200-page tests never meet
# them. The expected graph corrects them and the raw oracle P/R is still
# reported next to it.
# 1. FlagTemplateParserConfig names the flag templates per language: fr has
#    only ``drapeau``/``drapeau2``, so ``{{flagicon|GER}}`` on a French page
#    yields no dbo:twinCountry (the oracle plants one for every language).
LANGS_WITHOUT_FLAGICON = frozenset({"fr"})
TWIN_COUNTRY = C.DBO + "twinCountry"
# 2. TypeConsistencyCheck routes every uncleaned object quad to exactly one
#    of the cleaned / disjoint datasets; dbo:twinCountry has no range, so it
#    is always cleaned (the oracle routes the other object properties only).
UNCLEANED, CLEANED = "mappingbased_objects_uncleaned", "mappingbased_objects"


def golden_keys(seed: int, n: int) -> set[tuple]:
    """The raw golden oracle of the ``n``-page corpus under ``seed`` as
    distinct ``(dataset, subject, predicate, value, datatype or '', language)``."""
    with corpus_seed(seed):
        quads = C.golden_quads(n)
    return {
        (q["dataset"], q["subject"], q["predicate"], q["value"], q["datatype"] or "", q["language"])
        for q in quads
    }


def expected_graph(golden: set[tuple]) -> set[tuple]:
    """The graph ``run_pipeline`` must write for a corpus whose golden keys
    are ``golden``: the oracle with the two corrections above."""
    out = set()
    for t in golden:
        if t[2] == TWIN_COUNTRY and t[0] == UNCLEANED:
            if t[5] in LANGS_WITHOUT_FLAGICON:
                continue
            out.add((CLEANED,) + t[1:])
        out.add(t)
    return out


# --- live_update: base store + micro-batches of edited and new pages --------

MAX_BATCHES = 200  # micro-batches one feed can hand out


class LiveFeed:
    """The page population of the live workload.

    Pages ``0..base-1`` form the initial store; micro-batch ``k`` (from 1)
    edits ``batch`` pages of the store chosen by the seed and adds the
    ``batch`` new pages ``base + (k-1)*batch ..``. All pages come from one
    corpus of ``base + MAX_BATCHES * batch`` pages, so an edited corpus is
    always well defined."""

    def __init__(self, seed: int, base: int, batch: int):
        self.seed, self.base, self.batch = seed, base, batch
        self.n = base + MAX_BATCHES * batch
        self.current: dict[int, dict] = {}

    def base_rows(self) -> list[dict]:
        rows = wiki_pages(self.seed, 0, self.base, self.n)
        self.current = dict(enumerate(rows))
        return rows

    def batch_rows(self, k: int) -> list[dict]:
        """Rows of micro-batch ``k`` (edits first, then new pages); the
        edited corpus (``current``) is advanced to include them."""
        if not 1 <= k <= MAX_BATCHES:
            raise ValueError(f"micro-batch {k} outside 1..{MAX_BATCHES}")
        rng = random.Random(f"kgbench-live:{self.seed}:{k}")
        changed: dict[int, dict] = {}
        for i in sorted(rng.sample(range(self.base), self.batch)):
            old = self.current[i]
            target = C.title_of(C.article_near(i, self.n, salt=1000 + k))
            changed[i] = {
                **old,
                "commit": hashlib.sha256(f"{old['commit']}:{k}".encode()).hexdigest()[:40],
                "content": old["content"] + f"\nLive edit {k} cites [[{target}]].\n",
            }
        lo = self.base + (k - 1) * self.batch
        changed.update(zip(range(lo, lo + self.batch), wiki_pages(self.seed, lo, lo + self.batch, self.n)))
        self.current.update(changed)
        return list(changed.values())

    def edited_rows(self) -> list[dict]:
        """The corpus as of the last micro-batch handed out."""
        return [self.current[i] for i in sorted(self.current)]


# --- Wikidata entity JSON documents (items and properties) -----------------

_CLASSES = ("Q5", "Q515", "Q43229")  # Person, City, Organisation in the R2R class map
PROPERTY_SHARE = 0.1  # of the entity documents, the rest are items


def _claim(value, vtype: str, **extra) -> dict:
    return {"mainsnak": {"snaktype": "value", "datavalue": {"value": value, "type": vtype}}, **extra}


def _time(y: int, m: int = 0, d: int = 0, precision: int = 9) -> dict:
    return {"time": f"+{y:04d}-{m:02d}-{d:02d}T00:00:00Z", "precision": precision}


def item_doc(rng: random.Random, q: int) -> tuple[dict, dict]:
    """One item entity → (document, its expected quad count per dataset).

    The item shape is the one of ``driver_corpus.WIKIDATA_ENTITY_FMT``; the
    seed picks every value, the number of aliases (1-3) and whether the
    item has an image (P18). The expected counts restate, per claim, what
    the wikidata extractor group emits for it."""
    name = f"{rng.choice(C.ADJ)} {rng.choice(C.NOUN)} {q}"
    aliases = [f"{name} alias {j}" for j in range(rng.randint(1, 3))]
    has_image = rng.random() < 0.7
    claims = {
        "P31": [_claim({"entity-type": "item", "id": rng.choice(_CLASSES)}, "wikibase-entityid")],
        "P569": [_claim(_time(rng.randint(1900, 2019), rng.randint(1, 12), rng.randint(1, 28), 11), "time")],
        "P571": [_claim(_time(rng.randint(1800, 1999)), "time")],
        "P1082": [
            _claim({"amount": f"+{rng.randint(1, 9_999_999)}", "unit": "1"}, "quantity", rank="normal",
                   qualifiers={"P585": [{"snaktype": "value", "property": "P585", "datavalue": {
                       "value": _time(rng.randint(1950, 2019)), "type": "time"}}]}),
            _claim({"amount": f"+{rng.randint(1, 9_999_999)}", "unit": "1"}, "quantity", rank="deprecated"),
        ],
        "P1448": [_claim({"text": name, "language": "en"}, "monolingualtext")],
        "P856": [_claim(f"http://item.example.org/{q}", "string", references=[{"snaks": {"P854": [
            {"snaktype": "value", "datavalue": {"value": f"http://ref.example.org/{q}", "type": "string"}}]}}])],
        "P625": [_claim({"latitude": rng.randint(-89, 89), "longitude": rng.randint(-179, 179)}, "globecoordinate")],
        "P570": [{"mainsnak": {"snaktype": "somevalue"}}],
    }
    if has_image:
        claims["P18"] = [_claim(f"Item {q} view.jpg", "string")]
    doc = {
        "id": f"Q{q}",
        "labels": {"en": {"language": "en", "value": name},
                   "de": {"language": "de", "value": f"Ding {q}"}},
        "descriptions": {"en": {"language": "en", "value": f"synthetic item {q}"}},
        "aliases": {"en": [{"language": "en", "value": a} for a in aliases]},
        "claims": claims,
        "sitelinks": {"enwiki": {"site": "enwiki", "title": f"Item {q}"},
                      "dewiki": {"site": "dewiki", "title": f"Item {q}"},
                      "commonswiki": {"site": "commonswiki", "title": f"Item {q}"}},
    }
    # value statements: P31 P569 P571 P1082 x2 P1448 P856 P625 (+ P18); the
    # somevalue P570 emits nothing
    statements = 8 + has_image
    expected = {
        "wikidata_labels": 2,                 # en + de labels
        "wikidata_descriptions": 1,
        "wikidata_aliases": len(aliases),
        "wikidata_same_as": 2,                # enwiki + dewiki (commons is no language)
        "wikidata_raw": statements,           # every rank is kept raw
        "wikidata_raw_reified": 4 * statements,  # rdf:Statement + subject/predicate/object
        "wikidata_raw_reified_qualifiers": 1,    # P585 on the normal-rank P1082
        "wikidata_namespace_same_as": 1,
        "wikidata_reference": 1,              # the P854 reference on P856
        "wikidata_instance_types": 1,         # P31 through the class map
        # birthDate, foundingDate, populationTotal (deprecated rank dropped), foaf:name
        "wikidata_mappingbased_literals": 4,
        "wikidata_mappingbased_objects": 1 + has_image,  # homepage (+ depiction)
        "wikidata_geo_coordinates": 3,        # lat, long, georss point
    }
    return doc, expected


def property_doc(rng: random.Random, p: int) -> tuple[dict, dict]:
    """One property entity (``driver_corpus.WIKIDATA_PROPERTY_FMT`` shape)."""
    word = rng.choice(C.NOUN).lower()
    doc = {
        "id": f"P{p}",
        "labels": {"en": {"language": "en", "value": f"property {word} {p}"},
                   "de": {"language": "de", "value": f"Eigenschaft {p}"}},
        "descriptions": {"en": {"language": "en", "value": f"tracks {word}"}},
        "aliases": {"en": [{"language": "en", "value": f"p-alias {p}"}]},
        "claims": {
            "P1646": [_claim({"entity-type": "property", "id": f"P{rng.randint(1, 100)}"}, "wikibase-entityid")],
            "P2302": [_claim({"amount": f"+{rng.randint(0, 4999)}", "unit": "1"}, "quantity", references=[
                {"snaks": {"P854": [{"snaktype": "value", "datavalue": {
                    "value": f"http://propref.example.org/{p}", "type": "string"}}]}}])],
            "P580": [_claim(_time(rng.randint(1950, 2019), rng.randint(1, 12), rng.randint(1, 28), 11), "time")],
        },
    }
    # 2 labels + description + alias + 3 value statements; one reference
    return doc, {"wikidata_property": 7, "wikidata_reference": 1}


def wikidata_entities(seed: int, n: int) -> tuple[list[dict], dict[str, int]]:
    """``n`` entity pages (items, then properties) in the corpus schema, and
    the expected quad count per dataset reconstructed from the documents."""
    rng = random.Random(f"kgbench-wikidata:{seed}")
    n_props = max(1, int(n * PROPERTY_SHARE))
    rows, expected = [], {}
    for j in range(n):
        if j < n - n_props:
            doc, exp = item_doc(rng, 1000 + j)
        else:
            doc, exp = property_doc(rng, 1000 + j)
        rows.append({
            "repo": "wikidata",
            "path": f"entities/{doc['id']}.json",
            "commit": hashlib.md5(f"{seed}:{doc['id']}".encode()).hexdigest(),
            "lang": "wikidata",
            "content": json.dumps(doc, separators=(",", ":")),
        })
        for ds, c in exp.items():
            expected[ds] = expected.get(ds, 0) + c
    return rows, expected
