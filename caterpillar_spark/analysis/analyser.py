"""Analysers: tokenizer + ordered filter stacks.

Behavioral spec: caterpillar/processing/analysis/analyse.py (reference).
Configuration quirks preserved deliberately:

* ``DefaultAnalyser`` defaults to ``min_word_size=1`` and an EMPTY
  stopword list — only an explicit ``stopword_list=None`` selects the
  full English list (reference analyse.py:52-55).
* ``TestAnalyser`` (reference test_util.py:11-30) uses the compact
  English test list and ``MIN_WORD_SIZE=3``; the golden fixture counts
  in the reference test-suite depend on exactly this configuration.
"""

from __future__ import annotations

from typing import Iterable, Iterator, List, Optional

from caterpillar_spark.analysis import stopwords
from caterpillar_spark.analysis.filters import (
    BiGramFilter,
    Filter,
    OuterPunctuationFilter,
    PositionalLowercaseWordFilter,
    PossessiveContractionFilter,
    PotentialBiGramFilter,
    StopFilter,
)
from caterpillar_spark.analysis.tokenize import (
    DateTimeTokenizer,
    EverythingTokenizer,
    SimpleWordTokenizer,
    Token,
    Tokenizer,
)


class Analyser:
    """A tokenizer plus an ordered filter chain."""

    def get_tokenizer(self) -> Tokenizer:
        raise NotImplementedError

    def get_filters(self) -> Optional[List[Filter]]:
        return None

    def analyse(self, value: str) -> Iterator[Token]:
        stream: Iterable[Token] = self.get_tokenizer().tokenize(value)
        filters = self.get_filters()
        if filters:
            for f in filters:
                stream = f.filter(stream)
        return iter(stream)


# One shared tokenizer instance per class — tokenizers are stateless.
_SIMPLE_TOKENIZER = SimpleWordTokenizer(detect_compound_names=True)

# Fused fast-path regexes for the standard word stack (same compiled
# patterns the individual stages use).
_FUSED_OUTER_RE = OuterPunctuationFilter(leading_allow=["@", "#"])._re
_FUSED_POSS_RE = PossessiveContractionFilter()._re


class _FusedWordAnalyser(Analyser):
    """Single-pass implementation of the standard stack
    ``SimpleWordTokenizer -> OuterPunctuationFilter(@#) ->
    PossessiveContractionFilter -> StopFilter ->
    PositionalLowercaseWordFilter(0)``.

    The generic generator chain costs 4 nested function calls per
    token; this inlines them (~3x faster framing, the index build's
    hottest loop).  Output equivalence with the generic chain is
    asserted by a differential test on hand-written edge cases that
    always runs (tests/test_analysis.py); the corpus differential and
    the stored-reference-index parity tests run only where the
    reference checkout's test resources are present."""

    _stopset: frozenset
    _minsize: int

    def analyse(self, value: str) -> Iterator[Token]:
        stopset = self._stopset
        minsize = self._minsize
        outer = _FUSED_OUTER_RE.search
        poss = _FUSED_POSS_RE.sub
        for pos, m in enumerate(_SIMPLE_TOKENIZER._re.finditer(value)):
            m2 = outer(m.group(0))
            if m2 is None:
                continue  # all-punctuation token: dropped from stream
            v = poss("", m2.group(0))
            stopped = len(v) < minsize or v.lower() in stopset
            if pos == 0 and " " not in v and v.istitle():
                v = v.lower()
            yield Token(v, position=pos, stopped=stopped, index=m.span())


class DefaultAnalyser(_FusedWordAnalyser):
    """The standard indexing analyser: simple word split + compound names,
    outer-punctuation strip (keeping leading @/#), possessive strip,
    stop marking, sentence-initial de-capitalization.  Executes via the
    fused single-pass fast path; ``get_filters`` still exposes the
    equivalent chain."""

    def __init__(self, stopword_list=[], min_word_size: int = 1):  # noqa: B006
        if stopword_list is None:
            stopword_list = stopwords.ENGLISH
        self._stopset = frozenset(s.lower() for s in stopword_list)
        self._minsize = min_word_size
        self._filters: List[Filter] = [
            OuterPunctuationFilter(leading_allow=["@", "#"]),
            PossessiveContractionFilter(),
            StopFilter(stopword_list, minsize=min_word_size),
            PositionalLowercaseWordFilter(0),
        ]

    def get_tokenizer(self) -> Tokenizer:
        return _SIMPLE_TOKENIZER

    def get_filters(self) -> List[Filter]:
        return self._filters


class TestAnalyser(_FusedWordAnalyser):
    """Fixture analyser used by the reference test-suite goldens."""

    __test__ = False  # not a pytest class

    def __init__(self, stopword_list=None):
        if stopword_list is None:
            stopword_list = stopwords.ENGLISH_TEST
        self._stopset = frozenset(s.lower() for s in stopword_list)
        self._minsize = stopwords.MIN_WORD_SIZE
        self._filters: List[Filter] = [
            OuterPunctuationFilter(leading_allow=["@", "#"]),
            PossessiveContractionFilter(),
            StopFilter(stopword_list, minsize=stopwords.MIN_WORD_SIZE),
            PositionalLowercaseWordFilter(0),
        ]

    def get_tokenizer(self) -> Tokenizer:
        return _SIMPLE_TOKENIZER

    def get_filters(self) -> List[Filter]:
        return self._filters


class BiGramAnalyser(Analyser):
    """DefaultAnalyser + fusing of a known bigram list."""

    def __init__(self, bi_grams: Iterable[str], stopword_list=None):
        if stopword_list is None:
            stopword_list = stopwords.ENGLISH
        self._filters: List[Filter] = [
            OuterPunctuationFilter(leading_allow=["@", "#"]),
            PossessiveContractionFilter(),
            StopFilter(stopword_list, minsize=stopwords.MIN_WORD_SIZE),
            PositionalLowercaseWordFilter(0),
            BiGramFilter(bi_grams),
        ]

    def get_tokenizer(self) -> Tokenizer:
        return _SIMPLE_TOKENIZER

    def get_filters(self) -> List[Filter]:
        return self._filters


class PotentialBiGramAnalyser(Analyser):
    """Emits candidate bigram pairs for the discovery aggregation.
    Terminal stage yields token *lists* (see PotentialBiGramFilter)."""

    def __init__(self, stopword_list=None):
        if stopword_list is None:
            stopword_list = stopwords.ENGLISH
        self._filters: List[Filter] = [
            OuterPunctuationFilter(leading_allow=["@", "#"]),
            PossessiveContractionFilter(),
            StopFilter(stopword_list, minsize=stopwords.MIN_WORD_SIZE),
            PositionalLowercaseWordFilter(0),
            PotentialBiGramFilter(),
        ]

    def get_tokenizer(self) -> Tokenizer:
        return _SIMPLE_TOKENIZER

    def get_filters(self) -> List[Filter]:
        return self._filters


class EverythingAnalyser(Analyser):
    """Whole value as a single token (categorical / ID fields)."""

    def get_tokenizer(self) -> Tokenizer:
        return EverythingTokenizer()


class DateTimeAnalyser(Analyser):
    """ISO-8601 normalizing analyser for datetime fields."""

    def __init__(self, datetime_formats=None, ignore_tz: bool = False):
        self._tokenizer = DateTimeTokenizer(datetime_formats, ignore_tz)

    def get_tokenizer(self) -> Tokenizer:
        return self._tokenizer
