"""Model-backed NLP enrichment (N1/N3/N5) with deterministic fallback.

The reference runs spaCy NER (content_enhancement.py:58-97), TextBlob
sentiment (:99-130) and spaCy noun-chunk key phrases (:132-153), each
with its own deterministic fallback (regex entities
content_enricher.py:98-162, lexicon sentiment :205-229). This module
gives both paths the same vectorized pandas-UDF shape:

- ``*_udf(backend="model")`` builds the spaCy/TextBlob-backed Arrow
  UDF — model load happens once per executor worker at first batch,
  inference loops inside the Arrow batch. Raises ``ImportError``
  at construction when the libraries are absent (as in this sandbox),
  so a missing model is a loud config error, never a silent fallback.
- ``*_udf(backend="deterministic")`` (and ``backend="auto"``, which
  probes availability) builds the reference's own fallback logic —
  byte-reproducible. No registry query imports this module: the
  oracle-paired enrichment queries compute their deterministic twins
  as column expressions in ``analytics/``.

Input truncation matches the reference exactly (NER first 100k chars,
phrases first 5k) so per-row outputs are comparable across backends.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from omni_crawler_spark.functions import enrich
from omni_crawler_spark.functions.text import WORD_SPLIT_RE

NER_MAX_CHARS = 100_000   # content_enhancement.py:71
PHRASE_MAX_CHARS = 5_000  # content_enhancement.py:139

POSITIVE_WORDS = frozenset(enrich.POSITIVE_WORDS)
NEGATIVE_WORDS = frozenset(enrich.NEGATIVE_WORDS)

# regex-entity heuristics (content_enricher.py:112-162)
_RE_PERSON = re.compile(r"\b([A-Z][a-z]+ [A-Z][a-z]+)\b")
_RE_ORG = re.compile(
    r"\b([A-Z][A-Za-z]*(?: [A-Z][A-Za-z]*)* "
    r"(?:Inc|Corp|Corporation|Company|Ltd|LLC|Group|Association))\b"
)
_RE_LOC = re.compile(r"\b(?:in|at|from|near) ([A-Z][a-z]+(?: [A-Z][a-z]+)?)\b")
_RE_WORDS = re.compile(WORD_SPLIT_RE)


def _dedup_top(values: list[str], k: int = 10) -> list[str]:
    seen, out = set(), []
    for v in values:
        if v not in seen:
            seen.add(v)
            out.append(v)
        if len(out) == k:
            break
    return out


def backend_available(backend: str) -> bool:
    try:
        if backend == "spacy":
            import spacy  # noqa: F401
        elif backend == "textblob":
            import textblob  # noqa: F401
        else:
            return False
        return True
    except ImportError:
        return False


def _resolve(backend: str, lib: str) -> str:
    if backend == "auto":
        return "model" if backend_available(lib) else "deterministic"
    if backend == "model" and not backend_available(lib):
        raise ImportError(
            f"backend='model' requires {lib}, which is not installed; "
            "use backend='deterministic' or 'auto'"
        )
    return backend


ENTITY_SCHEMA = MapType(StringType(), ArrayType(StringType()))


def ner_entities_udf(backend: str = "auto"):
    """N1/N2: {persons, organizations, locations} per document.
    model = spaCy en_core_web_sm over the first 100k chars, labels
    PERSON/ORG/GPE, dedup, top-10 each (content_enhancement.py:58-97);
    deterministic = the reference's own regex heuristics
    (content_enricher.py:98-162)."""
    mode = _resolve(backend, "spacy")

    if mode == "model":

        @pandas_udf(ENTITY_SCHEMA)
        def ner_model(texts: pd.Series) -> pd.Series:
            import spacy

            nlp = spacy.load("en_core_web_sm", disable=["parser"])
            out = []
            for t in texts:
                doc = nlp((t or "")[:NER_MAX_CHARS])
                ents: dict[str, list[str]] = {
                    "persons": [], "organizations": [], "locations": []
                }
                label_key = {"PERSON": "persons", "ORG": "organizations",
                             "GPE": "locations"}
                for e in doc.ents:
                    k = label_key.get(e.label_)
                    if k and len(e.text.strip()) > 1:
                        ents[k].append(e.text.strip())
                out.append({k: _dedup_top(v) for k, v in ents.items()})
            return pd.Series(out)

        return ner_model

    @pandas_udf(ENTITY_SCHEMA)
    def ner_regex(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            t = (t or "")[:NER_MAX_CHARS]
            out.append(
                {
                    "persons": _dedup_top(_RE_PERSON.findall(t)),
                    "organizations": _dedup_top(_RE_ORG.findall(t)),
                    "locations": _dedup_top(_RE_LOC.findall(t)),
                }
            )
        return pd.Series(out)

    return ner_regex


SENTIMENT_SCHEMA = StructType(
    [
        StructField("polarity", DoubleType()),
        StructField("subjectivity", DoubleType()),
        StructField("label", StringType()),
    ]
)


def sentiment_udf(backend: str = "auto"):
    """N3/N4: (polarity, subjectivity, label). model = TextBlob
    (content_enhancement.py:99-130); deterministic = the 7-word
    lexicon ratio (content_enricher.py:205-229, subjectivity 0.0).
    Label thresholds ±0.1 in both."""
    mode = _resolve(backend, "textblob")

    def _label(p: float) -> str:
        return "positive" if p > 0.1 else "negative" if p < -0.1 else "neutral"

    if mode == "model":

        @pandas_udf(SENTIMENT_SCHEMA)
        def sent_model(texts: pd.Series) -> pd.DataFrame:
            from textblob import TextBlob

            rows = []
            for t in texts:
                s = TextBlob(t or "").sentiment
                rows.append(
                    (round(s.polarity, 4), round(s.subjectivity, 4),
                     _label(s.polarity))
                )
            return pd.DataFrame(
                rows, columns=["polarity", "subjectivity", "label"]
            )

        return sent_model

    @pandas_udf(SENTIMENT_SCHEMA)
    def sent_lexicon(texts: pd.Series) -> pd.DataFrame:
        rows = []
        for t in texts:
            ws = [w for w in _RE_WORDS.split((t or "").lower()) if w]
            pos = sum(w in POSITIVE_WORDS for w in ws)
            neg = sum(w in NEGATIVE_WORDS for w in ws)
            p = 0.0 if pos + neg == 0 else round((pos - neg) / (pos + neg), 4)
            rows.append((p, 0.0, _label(p)))
        return pd.DataFrame(rows, columns=["polarity", "subjectivity", "label"])

    return sent_lexicon


def key_phrases_udf(backend: str = "auto", top_k: int = 15):
    """N5: key phrases. model = spaCy noun_chunks over the first 5k
    chars, 10<len<50, dedup, top-15 (content_enhancement.py:132-153);
    deterministic = the ``top_k`` most-frequent bigrams of the first
    5k chars, by (count desc, phrase). The oracle-paired
    enrich_key_phrases query does not call this UDF: it ranks the
    whole text's bigrams in that order as columns and keeps 3."""
    mode = _resolve(backend, "spacy")

    if mode == "model":

        @pandas_udf(ArrayType(StringType()))
        def phrases_model(texts: pd.Series) -> pd.Series:
            import spacy

            nlp = spacy.load("en_core_web_sm")
            out = []
            for t in texts:
                doc = nlp((t or "")[:PHRASE_MAX_CHARS])
                cand = [
                    c.text.strip().lower()
                    for c in doc.noun_chunks
                    if 10 < len(c.text.strip()) < 50
                ]
                out.append(_dedup_top(cand, top_k))
            return pd.Series(out)

        return phrases_model

    @pandas_udf(ArrayType(StringType()))
    def phrases_bigram(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            ws = [w for w in _RE_WORDS.split(
                (t or "")[:PHRASE_MAX_CHARS].lower()) if w]
            counts: dict[str, int] = {}
            for a, b in zip(ws, ws[1:]):
                bg = f"{a} {b}"
                counts[bg] = counts.get(bg, 0) + 1
            ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
            out.append([p for p, _ in ranked[:top_k]])
        return pd.Series(out)

    return phrases_bigram
