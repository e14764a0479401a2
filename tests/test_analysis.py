"""Unit tests for the analysis chain.

Golden expectations ported from the reference test-suite
(caterpillar/processing/analysis/test/test_tokenize.py, test_filter.py).
Corpus-file tests read the reference's public-domain test resources when
the reference checkout is present and skip otherwise — the repo itself
has no runtime dependency on the reference.
"""

import os

import pytest

from caterpillar_spark.analysis import (
    DefaultAnalyser,
    EverythingTokenizer,
    LowercaseFilter,
    OuterPunctuationFilter,
    ParagraphTokenizer,
    PassFilter,
    PossessiveContractionFilter,
    SearchFilter,
    SimpleWordTokenizer,
    StopFilter,
    SubstitutionFilter,
    TestAnalyser,
    WordTokenizer,
)
from caterpillar_spark.analysis.sentence import split_sentences
from caterpillar_spark.framing import analyse_text

REF_RESOURCES = "/root/reference/caterpillar/test_resources"
needs_ref = pytest.mark.skipif(
    not os.path.isdir(REF_RESOURCES), reason="reference corpus not available"
)


def words(tokens):
    return [t.value for t in tokens]


# ---------------------------------------------------------------- tokenizers


def test_word_tokenizer_tags():
    got = words(WordTokenizer().tokenize(
        "--#Hello, this is a #tweet... It was made by @me!"))
    assert got == ['#Hello', 'this', 'is', 'a', '#tweet', 'It', 'was',
                   'made', 'by', '@me']


def test_word_tokenizer_contractions():
    got = words(WordTokenizer().tokenize(
        "I've observed that it wasn't the dog's fault."))
    assert got == ["I've", "observed", "that", "it", "wasn't", "the",
                   "dog", "s", "fault"]


def test_word_tokenizer_names():
    got = words(WordTokenizer().tokenize(
        "But John McGee was sure to kneel before him. "
        "The King of Scotland was a rash man."))
    assert got == ['But', 'John McGee', 'was', 'sure', 'to', 'kneel',
                   'before', 'him', 'The', 'King of Scotland', 'was', 'a',
                   'rash', 'man']


def test_word_tokenizer_email():
    got = words(WordTokenizer().tokenize(
        "A test sentence with the email adress John_Smith@domain123.org.au "
        "embedded in it."))
    assert got[7] == 'John_Smith@domain123.org.au'
    got = words(WordTokenizer().tokenize(
        "Another example with disposable.style.email.with+symbol@example.com."))
    assert got[-1] == 'disposable.style.email.with+symbol@example.com'


def test_word_tokenizer_number():
    got = words(WordTokenizer().tokenize(
        "A sentence with numbers 1, 100,000, 100,000,000.123 and $50."))
    assert len(got) == 9
    assert got[6] == '100,000,000.123'


def test_word_tokenizer_url():
    wt = WordTokenizer()
    for url in [
        "https://www.facebook.com",
        "http://twitter.com/@test",
        "https://www.google.com.au/?gfe_rd=cr&ei=TWL8UuK1KKuN8Qf48oHgBg",
        "www.test.io/?q=123",
    ]:
        assert url in words(wt.tokenize("A sample url {} .".format(url)))
    assert len(words(wt.tokenize("www house cleaning"))) == 3


def test_everything_tokenizer():
    assert words(EverythingTokenizer().tokenize("Test")) == ["Test"]
    assert words(EverythingTokenizer().tokenize("’")) == ["’"]


@needs_ref
def test_paragraph_tokenizer_alice():
    with open(os.path.join(REF_RESOURCES, "alice_test_data.txt")) as f:
        assert len(list(ParagraphTokenizer().tokenize(f.read()))) == 25


@needs_ref
def test_paragraph_tokenizer_economics():
    with open(os.path.join(REF_RESOURCES, "economics_test_data.txt")) as f:
        assert len(list(ParagraphTokenizer().tokenize(f.read()))) == 4


@needs_ref
def test_word_tokenizer_bush():
    with open(os.path.join(REF_RESOURCES, "bush_test_data.txt")) as f:
        got = words(WordTokenizer().tokenize(f.read()))
    assert got[-1] == 'Applause'
    assert len(got) == 75


@needs_ref
def test_word_tokenizer_economics():
    with open(os.path.join(REF_RESOURCES, "economics_test_data.txt"),
              encoding="utf-8") as f:
        assert len(words(WordTokenizer().tokenize(f.read()))) == 311


# ------------------------------------------------------------------- filters

TEST_STRING = "This is my test-string. Isn't it great?"


def test_stop_filter():
    for t in StopFilter(['is', 'it'], 2).filter(
            WordTokenizer().tokenize(TEST_STRING)):
        if t.position in (1, 6):
            assert t.stopped


def test_pass_and_sub_and_lower_and_search_filters():
    toks = list(PassFilter().filter(WordTokenizer().tokenize(TEST_STRING)))
    assert len(toks) == 8
    assert toks[3].value == 'test'

    for t in SubstitutionFilter('string', 'ping').filter(
            WordTokenizer().tokenize(TEST_STRING)):
        if t.position == 4:
            assert t.value == 'ping'

    got = words(LowercaseFilter().filter(WordTokenizer().tokenize(TEST_STRING)))
    assert got[0] == 'this'

    for t in SearchFilter('i').filter(WordTokenizer().tokenize(TEST_STRING)):
        if t.position in (0, 1, 4, 6):
            assert t.value == 'i'


def test_outer_punctuation_filter():
    got = words(OuterPunctuationFilter(
        leading_allow=['@#$'], trailing_allow=['/%!']).filter(
        SimpleWordTokenizer().tokenize(
            '@!@$#te--st/%!!-!! --@t@@ --t!!@ --tc-a! -tca!')))
    assert got == ['@$#te--st/%!!', '@t', 't!!', 'tc-a!', 'tca!']


def test_possessive_contraction_filter():
    got = words(PossessiveContractionFilter().filter(
        SimpleWordTokenizer().tokenize(
            "bob's bob’s bobʼs bobʻs bob՚s "
            "bobꞋs bobꞌs bob＇s")))
    assert got == ['bob'] * 8


# ----------------------------------------------------------------- analysers


def test_default_analyser_defaults():
    # Quirk preserved from the reference: the default stoplist is EMPTY
    # and min_word_size=1; only stopword_list=None selects full English.
    toks = list(DefaultAnalyser().analyse("The cat sat on the mat"))
    assert not any(t.stopped for t in toks)
    toks = list(DefaultAnalyser(stopword_list=None).analyse("the cat sat on a mat"))
    assert [t.value for t in toks if not t.stopped] == ['cat', 'sat', 'mat']


def test_test_analyser_stops_short_words():
    toks = list(TestAnalyser().analyse("it is a truth universally acknowledged"))
    kept = [t.value for t in toks if not t.stopped]
    assert kept == ['truth', 'universally', 'acknowledged']


def test_sentence_initial_decap():
    toks = list(TestAnalyser().analyse("Down the rabbit hole"))
    assert toks[0].value == 'down'
    # Compound names are NOT decapitalized (contain a space).
    toks = list(TestAnalyser().analyse("Mock Turtle was sad"))
    assert toks[0].value == 'Mock Turtle'


# ------------------------------------------------------------------ framing


def test_sentence_split_basic():
    got = split_sentences(
        "Mr. Smith went to Washington. He was tired! Was he? Dr. No said e.g. "
        "this stays. The end.")
    assert got == [
        "Mr. Smith went to Washington.",
        "He was tired!",
        "Was he?",
        "Dr. No said e.g. this stays.",
        "The end.",
    ]


def test_analyse_text_positions():
    # Stopped tokens advance the position counter but are not recorded.
    frames = analyse_text("it is a truth universally acknowledged.",
                          TestAnalyser(), frame_size=2)
    assert len(frames) == 1
    seq, text, positions, n = frames[0]
    assert seq == 0
    assert text == "it is a truth universally acknowledged."
    assert positions == {'truth': [3], 'universally': [4], 'acknowledged': [5]}
    assert n == 6


def test_analyse_text_frame_windows():
    text = ("One sentence here. Two sentences here. Three sentences here. "
            "Four sentences here. Five sentences here.")
    frames = analyse_text(text, TestAnalyser(), frame_size=2)
    assert [f[0] for f in frames] == [0, 1, 2]
    assert frames[0][1] == "One sentence here. Two sentences here."
    assert frames[2][1] == "Five sentences here."
    # frame_size < 1: whole document in one frame, text unjoined.
    frames = analyse_text(text, TestAnalyser(), frame_size=0)
    assert len(frames) == 1
    assert frames[0][1] == text


def test_analyse_text_paragraphs_reset_nothing_share_frames():
    text = "First paragraph sentence.\n\nSecond paragraph sentence."
    frames = analyse_text(text, TestAnalyser(), frame_size=2)
    # Paragraph boundary forces a new frame even though frame_size=2.
    assert len(frames) == 2


def assert_fused_matches_generic(samples):
    """Assert the fused single-pass DefaultAnalyser/TestAnalyser yield the
    same ``(value, position, stopped)`` stream as the generic
    tokenizer+filter chain built from their own ``get_filters()``."""
    from caterpillar_spark.analysis.analyser import Analyser, _SIMPLE_TOKENIZER

    class GenericShim(Analyser):
        def __init__(self, fused):
            self._fused = fused

        def get_tokenizer(self):
            return _SIMPLE_TOKENIZER

        def get_filters(self):
            return self._fused.get_filters()

    for make in (DefaultAnalyser, TestAnalyser):
        fused = make()
        generic = GenericShim(fused)
        for s in samples:
            got = [(t.value, t.position, t.stopped) for t in fused.analyse(s)]
            want = [
                (t.value, t.position, t.stopped)
                for t in Analyser.analyse(generic, s)
            ]
            assert got == want, (make.__name__, s[:60])


def test_fused_analyser_equals_generic_chain():
    """The fused single-pass DefaultAnalyser/TestAnalyser must produce
    exactly the generic tokenizer+filter chain's output on hand-written
    edge cases: possessives, leading @/#, compound names, all-punctuation
    tokens, the empty string and a single word.  The same differential
    over Alice paragraphs lives in the ``@needs_ref`` sibling below."""
    assert_fused_matches_generic([
        "The Quick brown fox's jumped, over!! 'the' lazy--dog...",
        "  @user and #tag  (parens) [brackets] ___ ... !!",
        "Mock Turtle said to Alice's friend: don't.",
        "a I x 'W. RABBIT' engraved 1865 3.14 e.g. Mr. Smith",
        "",
        "word",
    ])


@needs_ref
def test_fused_analyser_equals_generic_chain_alice():
    """Fused-vs-generic differential on the first 30 paragraphs of the
    reference's Alice test corpus."""
    with open(os.path.join(REF_RESOURCES, "alice_test_data.txt")) as f:
        assert_fused_matches_generic(f.read().split("\n\n")[:30])
