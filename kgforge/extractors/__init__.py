"""Extractor suite: parsed-page DataFrame → quad DataFrame.

The re-expression of the reference's ``Extractor[N].extract(page) →
Seq[Quad]`` contract (mappings/Extractor.scala:9-33) over the nested feature
columns the parse stage produced. The page is parsed once
(CompositeParseExtractor parse-once semantics) and every structural
extractor family is a segment of ONE fused, Catalyst-optimizable pass
(``fused.py``): ``run_extractors(parsed, names)`` runs the chosen families,
``fused_quads`` all of them. No Python runs in the loop except the
vectorized infobox typing UDF, and only when the ``infobox`` family is
chosen. ``structural.py`` holds the extractors that run outside that pass.
"""

from .fused import ALL_EXTRACTORS, fused_quads, run_extractors  # noqa: F401
from .structural import extract_disambiguations, extract_homepages  # noqa: F401
