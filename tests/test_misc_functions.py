"""bencode (S12), sniffers (F16/F19), Porter stemmer (T3), docs upsert view
(S6) and conditional refresh (S5) tests."""

import pytest

from mycelium_spark.functions.bencode import bdecode, bencode
from mycelium_spark.functions.sniff import (
    looks_ascii,
    looks_latin1,
    looks_utf8,
    pdf_magic,
    sha1_hex,
    transcode_to_utf8,
    unicode_bom,
)
from mycelium_spark.functions.stemmer import porter_stem


def test_bencode_roundtrip():
    cases = [
        0, 42, -17,
        b"", b"spam",
        [b"a", 1, [b"b"]],
        {b"a": 1, b"b": [b"x"], b"c": {b"d": b"e"}},
    ]
    for c in cases:
        assert bdecode(bencode(c)) == c
    assert bencode({"announce": "url", "info": {"length": 7}}) == (
        b"d8:announce3:url4:infod6:lengthi7eee"
    )


def test_bdecode_rejects_malformed():
    for bad in (b"i03e", b"i-0e", b"ie", b"4:abc", b"li1e", b"d1:a"):
        with pytest.raises(ValueError):
            bdecode(bad)


def test_sniffers():
    assert unicode_bom(b"\xef\xbb\xbfhello") == "utf-8"
    assert unicode_bom(b"\xff\xfeh\x00") == "utf-16-le"
    assert unicode_bom(b"plain") is None
    assert looks_ascii(b"abc") and not looks_ascii("é".encode())
    assert looks_utf8("héllo".encode())
    assert looks_latin1(b"caf\xe9") and not looks_latin1(b"\x85")
    assert pdf_magic(b"%PDF-1.4 xx") == "1.4"
    assert pdf_magic(b"<html>") is None
    assert sha1_hex("abc") == "a9993e364706816aba3e25717850c26c9cd0d89d"


def test_transcode():
    assert transcode_to_utf8("café".encode("latin-1"), "latin-1") == "café".encode("utf-8")
    assert transcode_to_utf8(b"\xef\xbb\xbfabc", None) == b"abc"  # BOM-led utf-8
    assert transcode_to_utf8(b"plain", None) == b"plain"


def test_porter_stem():
    # classic Porter (1980) examples
    cases = {
        "caresses": "caress", "ponies": "poni", "ties": "ti", "caress": "caress",
        "cats": "cat", "feed": "feed", "agreed": "agre", "plastered": "plaster",
        "motoring": "motor", "sing": "sing", "conflated": "conflat",
        "troubling": "troubl", "sized": "size", "hopping": "hop", "falling": "fall",
        "hissing": "hiss", "failing": "fail", "happy": "happi", "sky": "sky",
        "relational": "relat", "conditional": "condit", "rational": "ration",
        "valenci": "valenc", "digitizer": "digit", "operator": "oper",
        "feudalism": "feudal", "decisiveness": "decis", "hopefulness": "hope",
        "formality": "formal", "formative": "form", "formalize": "formal",
        "electricity": "electr", "electrical": "electr", "hopeful": "hope",
        "goodness": "good", "revival": "reviv", "allowance": "allow",
        "inference": "infer", "airliner": "airlin", "adjustable": "adjust",
        "defensible": "defens", "irritant": "irrit", "replacement": "replac",
        "adjustment": "adjust", "dependent": "depend", "adoption": "adopt",
        "communism": "commun", "activate": "activ", "angularity": "angular",
        "homologous": "homolog", "effective": "effect", "bowdlerize": "bowdler",
        "probate": "probat", "rate": "rate", "cease": "ceas",
        "controller": "control", "roll": "roll",
    }
    for word, expected in cases.items():
        assert porter_stem(word) == expected, f"{word}: {porter_stem(word)} != {expected}"


def test_stemmed_postings(spark):
    from mycelium_spark.operators.index import stemmed_postings

    docs = spark.createDataFrame(
        [(1, "running runs run"), (2, "runner running")], ["doc_id", "text"]
    )
    rows = {r.term: r for r in stemmed_postings(docs).collect()}
    assert rows["run"].total_tf == 4  # running/runs/run/running
    assert rows["run"].df == 2
    assert rows["runner"].df == 1


def test_docs_latest_and_refresh(spark, tmp_path):
    from mycelium_spark.plans.crawl import CrawlEngine
    from mycelium_spark.sources import synth

    pages = spark.createDataFrame(synth.pages_pdf(range(40), 40))
    eng = CrawlEngine(spark, str(tmp_path / "w"), pages, None, per_host_budget=4)
    eng.seed(synth.seeds(40, n_seeds=8))
    eng.run(max_rounds=2)
    latest = eng.docs_latest()
    assert latest.count() == latest.select("url").distinct().count()
    # S5: nothing changed → crawled urls are not refresh candidates
    crawled = {r.url for r in latest.filter("curl_code = 0").collect()}
    cands = {r.url for r in eng.refresh_candidates().collect()}
    assert not (crawled & cands)


def test_make_hex_dump():
    from mycelium_spark.functions.sniff import make_hex_dump

    # utils.cc:305-314: '%02x ' per byte, trailing space included
    assert make_hex_dump(b"\x00\x7f\xff") == "00 7f ff "
    assert make_hex_dump("AB") == "41 42 "
    assert make_hex_dump(b"") == ""
