"""Extractors that run outside the fused pass, as per-extractor DataFrames.

The structural extractor families are defined once, in ``fused.py``
(``run_extractors`` / ``fused_quads``). What stays here has no fused twin
(long abstracts, IRI/URI sameAs, fr population) or is the full i18n form of a
family whose shipped definition is the simpler fused segment (homepages,
disambiguations with the page_props source, gender, topical concepts). The
i18n forms are not on the shipped path: making the fused segments agree with
them would change the shipped graph.

Reference parity notes cite file:line under the reference's
core/src/main/scala/org/dbpedia/extraction/. All quads carry ``context = null`` (Quad
equality ignores context, transform/Quad.scala:120-157).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .. import vocab as V
from ..namespaces import CATEGORY, MAIN, RDF_LANGSTRING, TEMPLATE

# All IRIs are minted at parse time inside the single mapInPandas stage
# (kgforge/parse.py) — extractors are 100% JVM-side Catalyst expressions.

def _quads(
    df: DataFrame,
    dataset: str,
    subject: Column,
    predicate: Column | str,
    value: Column,
    datatype: str | None = None,
    langstring: bool = False,
) -> DataFrame:
    pred = F.lit(predicate) if isinstance(predicate, str) else predicate
    dt = F.lit(RDF_LANGSTRING) if langstring else F.lit(datatype)
    return df.select(
        F.col("lang").alias("language"),
        F.lit(dataset).alias("dataset"),
        subject.alias("subject"),
        pred.alias("predicate"),
        value.cast("string").alias("value"),
        F.lit(None).cast("string").alias("context"),
        dt.cast("string").alias("datatype"),
    ).filter(F.col("subject").isNotNull() & F.col("value").isNotNull())


def _main(df: DataFrame) -> DataFrame:
    return df.filter(F.col("namespace") == MAIN)


def _is_redirect() -> Column:
    return F.col("redirect_target").isNotNull()


def _internal_links() -> Column:
    # internal links = iw == '' (InterWikiLinkNode vs InternalLinkNode)
    return F.filter(F.col("links"), lambda l: l["iw"] == "")


_DISAMBIG_TEMPLATES = ("disambiguation", "disambig", "dab", "begriffsklärung", "homonymie")

# DisambiguationExtractorConfig.disambiguationTitlePartMap (:8-41): the
# per-language title suffix stripped before matching links against the
# cleaned title (regex-escaped parens added here)
_DISAMBIG_SUFFIX: dict[str, str] = {
    "en": r" \(disambiguation\)$", "am": r" \(መንታ\)$", "ar": r" \(توضيح\)$",
    "bg": r" \(пояснение\)$", "ca": r" \(desambiguació\)$", "cs": r" \(rozcestník\)$",
    "de": r" \(Begriffsklärung\)$", "el": r" \(αποσαφήνιση\)$", "eo": r" \(apartigilo\)$",
    "es": r" \(desambiguación\)$", "eu": r" \(argipena\)$", "fr": r" \(homonymie\)$",
    "ga": r" \(idirdhealáin\)$", "gl": r" \(homónimos\)$", "he": r" \(פירושונים\)$",
    "hi": r" \(बहुविकल्पी\)$", "hu": r" \(egyértelműsítő lap\)$", "id": r" \(disambig\)$",
    "it": r" \(disambigua\)$", "ja": r" \(曖昧さ回避\)$", "ko": r" \(동음이의\)$",
    "mk": r" \(појаснување\)$", "nl": r" \(doorverwijspagina\)$",
    "pl": r" \(ujednoznacznienie\)$", "pt": r" \(desambiguação\)$",
    "ro": r" \(dezambiguizare\)$", "ru": r" \(значения\)$",
    "sk": r" \(Rozlišovacia stránka\)$", "uk": r" \(значення\)$",
}


def extract_long_abstracts(parsed: DataFrame) -> DataFrame:
    """Long-abstract dataset (DBpediaDatasets long_abstracts; the reference's
    NIF/PlainAbstract pipeline renders via MediaWiki — this engine's
    deterministic substitute is the FULL plain_text, consistent with
    nif:isString; the short abstract stays the first paragraph). Standalone
    pass like the NIF group — not part of the fused golden set."""
    pages = _main(parsed).filter(
        F.col("redirect_target").isNull() & (F.col("plain_text") != "")
    )
    return _quads(pages, V.LONG_ABSTRACTS, F.col("subject"), V.ABSTRACT_PROP,
                  F.col("plain_text"), langstring=True)


def acronym_matches(clean_title: Column, target: Column) -> Column:
    """isAcronym (DisambiguationExtractor.scala:68-83): walk the destination
    words (dashes→spaces), advancing through the acronym whenever a word
    starts with the current acronym character — as a fold expression."""
    words = F.split(F.upper(F.regexp_replace(target, "-", " ")), " ")
    n = F.length(clean_title)
    final = F.aggregate(
        words,
        F.lit(0),
        lambda acc, w: F.when(
            (acc < n) & (F.substring(w, 1, 1) == clean_title.substr(acc + 1, F.lit(1))),
            acc + 1,
        ).otherwise(acc),
    )
    return final == n


def load_page_props_disambig(lines: DataFrame, column: str = "value") -> DataFrame:
    """MySQL ``page_props.sql`` dump lines → DataFrame(page_id) of pages
    whose 'disambiguation' page prop is set — the reference's primary
    disambiguation source (Disambiguations.scala:86-113, regex
    ``\\((\\d+),'disambiguation',''\\)`` over INSERT statements). Pure
    Catalyst: regexp_extract_all + explode."""
    ids = F.explode(
        F.regexp_extract_all(F.col(column), F.lit(r"\((\d+),'disambiguation',''\)"), 1)
    )
    return lines.select(ids.alias("page_id")).select(
        F.col("page_id").cast("long").alias("page_id")
    ).distinct()


def extract_disambiguations(parsed: DataFrame, page_props_ids: DataFrame | None = None) -> DataFrame:
    """DisambiguationExtractor (:31-83): on disambiguation pages keep links
    whose target contains the cleaned page title (case-insensitive) OR
    spells it out as an acronym (:68-83). A page is a disambiguation page if
    its page_id is in the (broadcast) page_props set — the reference's
    primary source, Disambiguations.scala:60-113 — OR it carries a
    disambiguation template (the load-failure fallback, :70-77). The id set
    is bounded by the number of disambiguation pages (~0.3% of enwiki), so
    the semi-join broadcasts even at dump scale.
    Not on the shipped path: the shipped family is the fused segment."""
    is_disambig = F.exists(
        F.col("templates"), lambda t: F.lower(t["name"]).isin(*_DISAMBIG_TEMPLATES)
    )
    if page_props_ids is not None:
        ids = F.broadcast(
            page_props_ids.select(F.col("page_id").cast("long").alias("_pp_id")).distinct()
        )
        marked = parsed.join(ids, parsed["page_id"] == ids["_pp_id"], "left")
        pages = _main(marked).filter(is_disambig | F.col("_pp_id").isNotNull())
    else:
        pages = _main(parsed).filter(is_disambig)
    strip = F.regexp_replace(F.col("title"), _DISAMBIG_SUFFIX["en"], "")
    for _lg, _pat in _DISAMBIG_SUFFIX.items():
        if _lg != "en":
            strip = F.when(
                F.col("lang") == _lg, F.regexp_replace(F.col("title"), _pat, "")
            ).otherwise(strip)
    clean_title = F.upper(strip)
    ex = pages.select(
        "lang", "subject", clean_title.alias("clean_title"), F.explode(_internal_links()).alias("link")
    ).filter(
        (F.col("link.ns") == MAIN)
        & (
            F.upper(F.col("link.target")).contains(F.col("clean_title"))
            | acronym_matches(F.col("clean_title"), F.col("link.target"))
        )
    )
    return _quads(ex, V.DISAMBIGUATIONS, F.col("subject"), V.WIKI_PAGE_DISAMBIGUATES, F.col("link.iri"))


# HomepageExtractorConfig.propertyNamesMap (:11-50) — per-language infobox
# property names; unknown languages fall back to the en set (the reference
# returns Set() there, but en names dominate real infobox reuse)
_HOMEPAGE_KEYS = ("website", "homepage", "web", "site")
_HOMEPAGE_KEYS_BY_LANG: dict[str, tuple[str, ...]] = {
    "en": _HOMEPAGE_KEYS,
    "am": ("ድህረገፅ", "ድህረ ገፅ", "ገጽ", "ድህረ ገጽ", "ድረ ገፅ", "ድረገፅ", "ድረገጽ",
           "ድረ ገጽ", "ዋና ገጽ", "ዌብሳይት", "website", "web", "site"),
    "ar": ("الموقع", "الصفحة الرسمية", "موقع", "الصفحة الرئيسية", "صفحة ويب", "موقع ويب"),
    "bg": ("сайт", "уебсайт"),
    "ca": ("pàgina", "web", "lloc"),
    "cs": ("webová stránka", "oficiální web"),
    "de": ("website", "homepage", "webpräsenz", "web", "site", "siteweb", "site web"),
    "el": ("ιστότοπος", "ιστοσελίδα"),
    "eo": ("ĉefpaĝo", "retejo"),
    "es": ("website", "homepage", "web", "site", "siteweb", "site web",
           "página", "sitio", "pagina"),
    "eu": ("webgunea",),
    "fr": ("website", "homepage", "web", "site", "siteweb", "site web"),
    "ga": ("suíomh",),
    "hi": ("वेबसाइट",),
    "it": ("homepage", "sito", "sito web"),
    "ja": ("homepage", "website", "web", "siteweb", "hp", "ホームページ",
           "ウェブ", "サイト", "ウェブサイト", "公式サイト"),
    "mk": ("портал", "мреж. место"),
    "nl": ("website", "homepage", "hoofdpagina", "webpagina", "web", "site"),
    "pl": ("web", "strona"),
    "pt": ("website", "homepage", "web", "site", "siteweb", "site web",
           "página", "sitio", "pagina"),
    "ru": ("сайт",),
    "uk": ("веб-сайт", "домашня сторінка", "сайт"),
}

# externalLinkSectionsMap (:58-81) / officialMap (:87-110) — section-heading
# and 'official' keyword regexes per language
_EXT_SECTION_RE: dict[str, str] = {
    "en": r"(?iu)^External links?$", "de": r"(?iu)^Weblinks?$",
    "fr": r"(?iu)^(?:Lien externe|Liens externes|Liens et documents externes)$",
    "es": r"(?iu)^(?:Enlaces externos|Enlace externo|Links externos|Link externo)$",
    "it": r"(?iu)^Collegamenti esterni$", "nl": r"(?iu)^(?:Externe links|Externe link)$",
    "pt": r"(?iu)^(?:Ligações externas|Ligação externa|Links externos|Link externo)$",
    "pl": r"(?iu)^(?:Linki zewnętrzne|Link zewnętrzny)$", "ru": r"(?iu)^Ссылки$",
    "uk": r"(?iu)^Посилання$", "ja": r"(?iu)^外部リンク$", "ar": r"(?iu)^وصلات خارجية$",
    "cs": r"(?iu)^Odkazy$", "el": r"(?iu)^(?:Εξωτερικοί σύνδεσμοι|Εξωτερικές συνδέσεις)$",
    "bg": r"(?iu)^Външни препратки$", "ca": r"(?iu)^(?:Enllaços externs|Enllaço extern)$",
    "eo": r"(?iu)^Eksteraj ligiloj$", "eu": r"(?iu)^Kanpo loturak?$",
    "ga": r"(?iu)^(?:Naisc sheachtracha|Nasc sheachtrach)$", "hi": r"(?iu)^बाहरी कड़ियाँ$",
    "mk": r"(?iu)^Надворешни врски$",
}
_OFFICIAL_RE: dict[str, str] = {
    "en": r"(?iu)\bofficial\b", "de": r"(?iu)offizielle", "fr": r"(?iu)officiel",
    "es": r"(?iu)oficial", "it": r"(?iu)ufficiale", "nl": r"(?iu)officieel|officiële",
    "pt": r"(?iu)oficial", "pl": r"(?iu)oficjalna", "ru": r"(?iu)официальный",
    "uk": r"(?iu)офіційний", "ja": r"(?iu)公式|オフィシャル", "ar": r"(?iu)رسمي",
    "cs": r"(?iu)oficiální", "el": r"(?iu)επίσημος|επίσημη", "bg": r"(?iu)официален",
    "ca": r"(?iu)oficial", "eo": r"(?iu)oficiala", "eu": r"(?iu)ofiziala?",
    "ga": r"(?iu)oifigiúil", "hi": r"(?iu)आधिकारिक", "mk": r"(?iu)официјален",
    "am": r"(?iu)ዋና",
}
# templateOfficialWebsiteMap (:117-132): template name (normalized) → key
_OFFICIAL_TEMPLATE: dict[str, tuple[str, str]] = {
    "en": ("official website", "1"), "ja": ("official website", "1"),
    "fr": ("site officiel", "url"), "ru": ("официальный сайт", "1"),
    "uk": ("official", "1"), "pt": ("oficial", "1"), "ca": ("oficial", "1"),
    "bg": ("официален сайт", "1"), "el": ("επίσημη ιστοσελίδα", "1"),
    "eo": ("oficiala retejo", "1"), "es": ("página web", "1"),
    "ga": ("páxina web", "1"), "hi": ("आधिकारिक वेबसाइट", "1"),
}
_URL_IN_VALUE = r"\[?\s*((?:https?|ftp)://[^\s\]\|]+)"
# bare domain ('example.org') — the reference prefixes http:// when the
# cleaned property value has a word.word shape (HomepageExtractor.scala:108)
_BARE_DOMAIN = r"^\s*([A-Za-z0-9][\w.-]*\.\w[\w/.~%#?=&-]*)\s*$"


def _lang_match(col: Column, table: dict[str, str]) -> Column:
    """lang-dispatched rlike over a per-language regex table (en fallback)."""
    expr = col.rlike(table["en"])
    for lg, pat in table.items():
        if lg != "en":
            expr = F.when(F.col("lang") == lg, col.rlike(pat)).otherwise(expr)
    return expr


def extract_homepages(parsed: DataFrame) -> DataFrame:
    """HomepageExtractor (mappings/HomepageExtractor.scala:47-102): in
    priority order — (1) the first URL in a website/homepage infobox
    property (per-language property names, bare domains prefixed http://),
    (2) an {{official website}}-family template inside the external-links
    section, (3) an external link whose label matches the language's
    'official' keyword inside that section. All three branches are Catalyst
    expressions over the parse columns; 'inside the section' = line number
    within [section line, next section line).
    Not on the shipped path: the shipped family is the fused segment."""
    main = _main(parsed)

    # branch 1: infobox property
    keys_expr = F.lower(F.col("p.key")).isin(*_HOMEPAGE_KEYS)
    for lg, names in _HOMEPAGE_KEYS_BY_LANG.items():
        if lg != "en":
            keys_expr = F.when(
                F.col("lang") == lg, F.lower(F.col("p.key")).isin(*names)
            ).otherwise(keys_expr)
    params = main.select(
        "lang", "subject", F.explode("templates").alias("t")
    ).select(
        "lang", "subject", F.col("t.pos").alias("pos"), F.explode("t.params").alias("p")
    ).filter(keys_expr)
    url1 = F.regexp_extract(F.col("p.value"), _URL_IN_VALUE, 1)
    bare = F.regexp_extract(F.col("p.value"), _BARE_DOMAIN, 1)
    prop_urls = params.select(
        "lang", "subject", F.lit(0).alias("rank"), "pos",
        F.when(url1 != "", url1)
        .when(bare != "", F.concat(F.lit("http://"), bare))
        .alias("url"),
    ).filter(F.col("url").isNotNull())

    # the external-links section line range per page: [line, next_line)
    secs = main.withColumn(
        "_els_line",
        F.array_min(
            F.transform(
                F.filter(F.col("sections"), lambda s: _lang_match(s["name"], _EXT_SECTION_RE)),
                lambda s: s["line"],
            )
        ),
    ).withColumn(
        "_els_end",
        F.coalesce(
            F.array_min(
                F.transform(
                    F.filter(F.col("sections"), lambda s: s["line"] > F.col("_els_line")),
                    lambda s: s["line"],
                )
            ),
            F.lit(2**31 - 1),
        ),
    ).filter(F.col("_els_line").isNotNull())

    # branch 2: {{official website|url}} template inside the section
    tname = F.lower(F.regexp_replace(F.col("t.name"), "_", " "))
    tpl_name_expr = tname == _OFFICIAL_TEMPLATE["en"][0]
    key_expr = F.lit(_OFFICIAL_TEMPLATE["en"][1])
    for lg, (nm, key) in _OFFICIAL_TEMPLATE.items():
        if lg != "en":
            tpl_name_expr = F.when(F.col("lang") == lg, tname == nm).otherwise(tpl_name_expr)
            key_expr = F.when(F.col("lang") == lg, F.lit(key)).otherwise(key_expr)
    tpls = secs.select(
        "lang", "subject", "_els_line", "_els_end", F.explode("templates").alias("t")
    ).filter(
        tpl_name_expr
        & (F.col("t.line") >= F.col("_els_line"))
        & (F.col("t.line") < F.col("_els_end"))
    )
    tpl_val = F.array_min(
        F.transform(
            F.filter(F.col("t.params"), lambda p: p["key"] == key_expr),
            lambda p: p["value"],
        )
    )
    tpl_urls = tpls.select(
        "lang", "subject", F.lit(1).alias("rank"), F.col("t.line").alias("pos"),
        F.when(tpl_val.rlike(r"^(?:https?|ftp)://"), tpl_val)
        .when(tpl_val.rlike(_BARE_DOMAIN), F.concat(F.lit("http://"), F.trim(tpl_val)))
        .alias("url"),
    ).filter(F.col("url").isNotNull())

    # branch 3: external link in the section whose LIST-ITEM text mentions
    # the 'official' keyword (the reference's listItemStartRegex over the
    # text node, HomepageExtractor.scala:38,180-196 — the keyword sits in
    # the item text, not necessarily the link label; a transformed
    # {{Official website}} link has no label at all). Line-shift-proof:
    # match any source line carrying both the link URI and the keyword.
    links = secs.select(
        "lang", "subject", "content", "_els_line", "_els_end",
        F.explode("external_links").alias("e"),
    ).filter(
        (F.col("e.line") >= F.col("_els_line"))
        & (F.col("e.line") < F.col("_els_end"))
        & (
            _lang_match(F.col("e.label"), _OFFICIAL_RE)
            | F.exists(
                F.split(F.col("content"), "\n"),
                lambda ln: ln.contains(F.col("e.uri")) & _lang_match(ln, _OFFICIAL_RE),
            )
        )
    )
    link_urls = links.select(
        "lang", "subject", F.lit(2).alias("rank"),
        F.col("e.line").alias("pos"), F.col("e.uri").alias("url"),
    )

    allu = prop_urls.unionByName(tpl_urls).unionByName(link_urls)
    first = allu.groupBy("lang", "subject").agg(
        F.min_by("url", F.struct("rank", "pos")).alias("url")
    )
    return _quads(first, V.HOMEPAGES, F.col("subject"), V.FOAF_HOMEPAGE, F.col("url"))


def _pronoun_count(pronoun: str):
    # regexp_count keeps the reference's exact non-overlapping-match
    # semantics (GenderExtractor.scala:58 findAllIn) without materializing a
    # split array of the full page per pronoun (7 such arrays per row
    # before); the Capitalized form counts too (pronounsMap lists both)
    first = pronoun[0]
    cased = f"[{first.upper()}{first}]{pronoun[1:]}" if first.upper() != first else pronoun
    return F.regexp_count(F.col("content"), F.lit(r"\W" + cased + r"\W"))


# GenderExtractorConfig.pronounsMap (:6-27): per-language pronoun sets AND
# localized gender words (the reference emits 'mulher'/'homem' on pt)
_GENDER_TABLES: dict[str, tuple[tuple[str, ...], tuple[str, ...], str, str]] = {
    "en": (("he", "his", "him", "himself"), ("she", "her", "herself"), "male", "female"),
    "pt": (("ele", "dele", "nele"), ("ela", "dela", "nela"), "homem", "mulher"),
    "am": (("እሱ", "እሱን", "የእሱ", "የራሱ", "እራሱ", "እራሱን"),
           ("እሷ", "እሷን", "የሷ", "እራሷን", "እራሷ"), "ወንድ", "ሴት"),
}


# template names mapped to dbo:Person (GenderExtractor applies only to
# Person-typed pages; the reference re-runs the MappingExtractor to find out,
# GenderExtractor.scala:39-49 — we consult the mapping config directly)
def _person_template_names():
    from ..mapping_engine import default_mappings
    from ..ontology import DBO

    return [n for n, m in default_mappings().items() if m.map_to_class == DBO + "Person"]


def extract_gender(parsed: DataFrame) -> DataFrame:
    """GenderExtractor (mappings/GenderExtractor.scala:39-86): argmax of
    gendered pronoun counts over the raw wikitext; emit when
    count > 3 and count/second > 2 (GenderExtractorConfig.scala:31-33).
    Not on the shipped path: the shipped family is the fused segment."""
    en_m, en_f, _, _ = _GENDER_TABLES["en"]
    male = sum((_pronoun_count(p) for p in en_m), F.lit(0))
    female = sum((_pronoun_count(p) for p in en_f), F.lit(0))
    m_val, f_val = F.lit("male"), F.lit("female")
    for lg, (mw, fw, mv, fv) in _GENDER_TABLES.items():
        if lg == "en":
            continue
        male = F.when(F.col("lang") == lg, sum((_pronoun_count(p) for p in mw), F.lit(0))).otherwise(male)
        female = F.when(F.col("lang") == lg, sum((_pronoun_count(p) for p in fw), F.lit(0))).otherwise(female)
        m_val = F.when(F.col("lang") == lg, F.lit(mv)).otherwise(m_val)
        f_val = F.when(F.col("lang") == lg, F.lit(fv)).otherwise(f_val)
    is_person = F.exists(
        F.col("templates"), lambda t: F.lower(t["name"]).isin(*_person_template_names())
    )
    gender = (
        F.when((male > 3) & ((female == 0) | (male / female > 2)), m_val)
        .when((female > 3) & ((male == 0) | (female / male > 2)), f_val)
    )
    df = _main(parsed).filter(is_person).withColumn("g", gender).filter(F.col("g").isNotNull())
    return _quads(df, V.GENDERS, F.col("subject"), V.FOAF_GENDER, F.col("g"), langstring=True)


# TopicalConceptsExtractorConfig.catMainTemplates (:10-22) — one shared set
# across languages (the reference FIXME acknowledges the conflation)
_CAT_MAIN_TEMPLATES = tuple(t.lower() for t in (
    "مزيد", "Infocat", "Infocatm", "Catmore", "Cat main", "AP", "Nagusia",
    "Article principal", "Voce principale", "torna a", "Artigo principal",
    "Основная статья по теме категории", "Catmain",
))


def extract_topical_concepts(parsed: DataFrame) -> DataFrame:
    """TopicalConceptsExtractor (mappings/TopicalConceptsExtractor.scala:
    37-62): Category pages carrying a {{Cat main|Article}}-family template →
    mainArticleForCategory to the named article (first positional param).
    The blank-sort-label link path ([[Main article| ]]) rides along as a
    documented extension — the golden corpus marks main articles that way.
    Not on the shipped path: the shipped family is the fused segment."""
    from ..wikidata import wiki_encode_expr

    cats = parsed.filter(F.col("namespace") == CATEGORY)
    ex = cats.select(
        "lang",
        "subject",
        F.explode(
            F.filter(
                F.col("links"),
                lambda l: (l["iw"] == "") & (l["ns"] == MAIN) & (F.trim(l["label"]) == ""),
            )
        ).alias("link"),
    )
    by_label = _quads(
        ex, V.TOPICAL_CONCEPTS, F.col("subject"), V.MAIN_ARTICLE_FOR_CATEGORY, F.col("link.iri")
    )
    tpls = cats.select(
        "lang", "subject", F.explode("templates").alias("t")
    ).filter(F.lower(F.col("t.name")).isin(*_CAT_MAIN_TEMPLATES))
    first_param = F.array_min(
        F.transform(
            F.filter(F.col("t.params"), lambda p: p["key"] == "1"),
            lambda p: p["value"],
        )
    )
    rb = F.when(F.col("lang") == "en", F.lit("http://dbpedia.org/resource/")).otherwise(
        F.concat(F.lit("http://"), F.col("lang"), F.lit(".dbpedia.org/resource/"))
    )
    by_tpl = _quads(
        tpls.filter(first_param.isNotNull() & (F.trim(first_param) != "")),
        V.TOPICAL_CONCEPTS,
        F.col("subject"),
        V.MAIN_ARTICLE_FOR_CATEGORY,
        F.concat(rb, wiki_encode_expr(first_param)),
    )
    return by_label.unionByName(by_tpl)


def extract_uri_same_as_iri(parsed: DataFrame) -> DataFrame:
    """UriSameAsIriExtractor (mappings/UriSameAsIriExtractor.scala:30-60):
    every page whose subject IRI differs from its ASCII-URI form → one
    (iri, owl:sameAs, uri) quad. Per-page twin of the
    CreateIriSameAsUriLinks script (kgforge/canonicalize.py
    iri_same_as_uri_quads) using the SAME transcoder UDF."""
    from ..canonicalize import iri_to_uri_udf

    pages = parsed.select("lang", "subject").withColumn(
        "uri", iri_to_uri_udf(F.col("subject"))
    ).filter(F.col("uri") != F.col("subject"))
    return _quads(pages, "uri_same_as_iri", F.col("subject"), V.OWL_SAME_AS, F.col("uri"))


def extract_fr_population(parsed: DataFrame) -> DataFrame:
    """fr.PopulationExtractor (mappings/fr/PopulationExtractor.scala:27-55):
    French Template-ns pages titled '…/<City>/…évolution population…'
    carrying a '|pop=N' row → <City> dbo:populationTotal N (FIRST pop match
    only — the reference returns on the first hit; all-digit 'city'
    segments dropped; Discussion/Modèles pages excluded). Language-gated to
    fr, so it costs nothing elsewhere."""
    title = F.col("title")
    city_raw = F.try_element_at(F.split(title, "/"), F.lit(2))
    pop = F.regexp_extract(F.col("content"), r"pop=(\d+)", 1)
    pages = parsed.filter(
        (F.col("lang") == "fr")
        & (F.col("namespace") == TEMPLATE)
        & F.col("redirect_target").isNull()
        & F.lower(title).contains("évolution population")
        & ~title.contains("Discussion")
        & ~title.contains("Modèles")
        & F.col("content").contains("|pop=")
    ).select(
        "lang", city_raw.alias("city"), pop.alias("pop")
    ).filter(
        F.col("city").isNotNull() & (F.col("city") != "")
        & ~F.col("city").rlike("^[0-9]*$") & (F.col("pop") != "")
    )
    from ..wikidata import wiki_encode_expr

    subject = F.concat(
        F.lit("http://fr.dbpedia.org/resource/"), wiki_encode_expr(F.col("city"))
    )
    return _quads(
        pages, V.FRENCH_POPULATION, subject,
        "http://dbpedia.org/ontology/populationTotal", F.col("pop"),
        datatype="http://www.w3.org/2001/XMLSchema#nonNegativeInteger",
    )
