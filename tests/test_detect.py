"""Source-layer detection tests (mirrors the reference's
tests/test_source.py pillar): encoding, format, and CSV dialect
sniffing — all driver-side, no Spark session needed."""

import codecs
import json

from structa_spark.sources.detect import (
    detect_csv_dialect, detect_encoding, detect_format, sniff,
)


# -- encoding --------------------------------------------------------------

def test_encoding_ascii():
    enc, conf = detect_encoding(b"hello world\n")
    assert enc == "utf-8" and conf == 1.0


def test_encoding_utf8():
    enc, conf = detect_encoding("héllo wörld\n".encode("utf-8"))
    assert enc == "utf-8" and conf >= 0.9


def test_encoding_latin1_fallback():
    enc, conf = detect_encoding("héllo\n".encode("latin-1"))
    assert enc == "iso-8859-1" and conf < 0.9


def test_encoding_boms_decode_without_feff():
    # the detected codec must CONSUME the BOM: decoding the sample
    # with it may not leave a U+FEFF on the first character (that
    # would corrupt header detection / the first CSV column name)
    cases = [
        (codecs.BOM_UTF8 + "col_a,col_b\n1,2\n".encode("utf-8"),
         "utf-8-sig"),
        ("col_a,col_b\n1,2\n".encode("utf-16"), "utf-16"),
        (codecs.BOM_UTF16_BE + "col_a,col_b\n".encode("utf-16-be"),
         "utf-16"),
        (codecs.BOM_UTF32_LE + "col_a,col_b\n".encode("utf-32-le"),
         "utf-32"),
        (codecs.BOM_UTF32_BE + "col_a,col_b\n".encode("utf-32-be"),
         "utf-32"),
    ]
    for raw, want in cases:
        enc, conf = detect_encoding(raw)
        assert enc == want and conf == 1.0
        assert raw.decode(enc).startswith("col_a"), (want, raw[:8])


def test_encoding_bomless_utf16():
    raw = "name,value\nalpha,1\nbeta,2\n".encode("utf-16-le")
    enc, conf = detect_encoding(raw)
    assert enc == "utf-16-le" and conf == 0.8
    raw_be = "name,value\nalpha,1\nbeta,2\n".encode("utf-16-be")
    enc, conf = detect_encoding(raw_be)
    assert enc == "utf-16-be" and conf == 0.8


# -- format ----------------------------------------------------------------

def test_format_xml():
    assert detect_format(b"<?xml version='1.0'?><r/>", "utf-8") == "xml"
    assert detect_format(b"<html><body/></html>", "utf-8") == "xml"


def test_format_document_json():
    doc = json.dumps({"a": {"b": [1, 2, 3]}}, indent=2).encode()
    assert detect_format(doc, "utf-8") == "json"


def test_format_json_array():
    assert detect_format(b'["x", "y", "z"]', "utf-8") == "json"


def test_format_ndjson():
    lines = b"\n".join(
        json.dumps({"i": i}).encode() for i in range(20))
    assert detect_format(lines, "utf-8") == "ndjson"


def test_format_csv():
    rows = b"\n".join(b"a,b,c" for _ in range(20))
    assert detect_format(b"name,qty,price\n" + rows, "utf-8") == "csv"


def test_format_yaml():
    text = (b"# config\n"
            b"server:\n"
            b"  host: localhost\n"
            b"  port: 8080\n"
            b"users:\n"
            b"- alice\n"
            b"- bob\n")
    assert detect_format(text, "utf-8") == "yaml"


# -- CSV dialect -----------------------------------------------------------

def test_csv_dialect_semicolons():
    sample = b"name;qty\n" + b"\n".join(
        f"item{i};{i}".encode() for i in range(20))
    delim, quote, header = detect_csv_dialect(sample, "utf-8")
    assert delim == ";"
    assert header is True


def test_csv_dialect_tabs_no_header():
    sample = b"\n".join(f"{i}\t{i * 2}".encode() for i in range(20))
    delim, quote, header = detect_csv_dialect(sample, "utf-8")
    assert delim == "\t"
    assert header is False


def test_csv_dialect_pipes():
    sample = b"a|b|c\n1|2|3\n4|5|6\n"
    delim, _, _ = detect_csv_dialect(sample, "utf-8")
    assert delim == "|"


def test_csv_dialect_ignores_row_cut_by_sample_window():
    # the 8 KB window ends right after the timestamp of a row: that
    # partial line holds no ',' but the two ':' of HH:MM:SS
    rows = [f"2024-01-{1 + i % 28:02d} 03:04:05,ab,{i % 10}\n"
            for i in range(400)]
    ts_len = len("2024-01-01 03:04:05")
    n_full = (8192 - ts_len) // len(rows[0])
    pad = 8192 - ts_len - n_full * len(rows[0])
    assert pad >= len("ts,code,n\n")
    header = "ts,code,n".ljust(pad - 1) + "\n"
    sample = (header + "".join(rows)).encode()
    assert sample[:8192].endswith(rows[n_full][:ts_len].encode())
    delim, _, _ = detect_csv_dialect(sample, "utf-8")
    assert delim == ","


# -- integrated sniff ------------------------------------------------------

def test_sniff_csv_end_to_end():
    sample = ("Name,Nationality\n"
              + "\n".join(f"person{i},country{i}" for i in range(10))
              ).encode()
    s = sniff(sample)
    assert s.format == "csv"
    assert s.csv_delimiter == ","
    assert s.csv_header is True


def test_sniff_ndjson_end_to_end():
    sample = b"\n".join(
        json.dumps({"k": i}).encode() for i in range(5))
    s = sniff(sample)
    assert s.format == "ndjson"
    assert s.encoding == "utf-8"


# -- multi-codec prober ----------------------------------------------------

JA = ("国際化対応のテストです。日本語の文書を解析します。"
      "エンコーディングの自動判定が必要です。") * 4
RU = ("Это проверка автоматического определения кодировки. "
      "Русский текст в однобайтовой кодировке.") * 4
ZH = "这是一个编码检测的测试。中文文本需要正确识别字符集。" * 5
KO = "인코딩 감지 테스트입니다. 한국어 문서를 분석합니다." * 5


def test_detect_shift_jis():
    enc, conf = detect_encoding(JA.encode("shift_jis"))
    assert enc == "shift_jis"
    assert conf >= 0.5


def test_detect_euc_jp():
    enc, conf = detect_encoding(JA.encode("euc_jp"))
    assert enc == "euc_jp"


def test_detect_gb18030():
    enc, conf = detect_encoding(ZH.encode("gb18030"))
    # gb18030 and big5 overlap heavily; either is a usable verdict
    # for the DISTRIBUTED read only if it round-trips — gb-encoded
    # bytes are not valid big5 here, so the prober must say gb18030
    assert enc == "gb18030"


def test_detect_euc_kr():
    enc, conf = detect_encoding(KO.encode("euc_kr"))
    assert enc == "euc_kr"


def test_detect_koi8_and_cp1251_disambiguate():
    assert detect_encoding(RU.encode("koi8-r"))[0] == "koi8-r"
    assert detect_encoding(RU.encode("windows-1251"))[0] == "windows-1251"


def test_probe_does_not_misfire_on_western_text():
    # accented Western-European text must not be claimed by a CJK codec
    txt = ("Voix ambiguë d'un cœur qui au zéphyr préfère les jattes "
           "de kiwis. Ça dépend des caractères accentués.") * 3
    enc, conf = detect_encoding(txt.encode("windows-1252"))
    assert enc in ("windows-1252", "iso-8859-1")


def test_probed_charset_maps_to_spark_name():
    from structa_spark.sources.detect import spark_charset
    assert spark_charset("shift_jis") == "Shift_JIS"
    assert spark_charset("koi8-r") == "KOI8-R"


def test_probed_encoding_reads_distributed(spark, tmp_path):
    # end-to-end: sniff a shift_jis NDJSON file, read it through
    # open_source (which enables the java-charsets path for
    # non-builtin encodings), values come back intact
    rows = [{"msg": "テスト" + str(i)} for i in range(20)]
    data = "\n".join(json.dumps(r, ensure_ascii=False) for r in rows)
    f = tmp_path / "ja.ndjson"
    f.write_bytes(data.encode("shift_jis"))
    s = sniff(f.read_bytes())
    assert s.encoding == "shift_jis"
    from structa_spark.sources.reader import open_source
    df = open_source(spark, str(f))
    got = sorted(r.msg for r in df.collect())
    assert got == sorted(r["msg"] for r in rows)


def test_probed_encoding_reads_csv_distributed(spark, tmp_path):
    # koi8-r CSV through the full sniff + distributed read path
    body = "имя,город\nиван,москва\nольга,казань\n" * 7
    f = tmp_path / "ru.csv"
    f.write_bytes(body.encode("koi8-r"))
    s = sniff(f.read_bytes())
    assert s.encoding == "koi8-r"
    from structa_spark.sources.reader import open_source
    df = open_source(spark, str(f))
    vals = {r[0] for r in df.collect()}
    assert "иван" in vals


def test_truncated_multibyte_sample_still_detects():
    # the sniffer reads a bounded sample; a cut landing mid-character
    # must not reject the codec (round-3 review finding)
    b = JA.encode("shift_jis")
    # force a cut inside a double-byte sequence
    cut = b[:len(b) - 1]
    enc, conf = detect_encoding(cut)
    assert enc == "shift_jis"
    # utf-8 too
    u = JA.encode("utf-8")
    assert detect_encoding(u[:len(u) - 1])[0] == "utf-8"


def test_probed_encoding_reads_document_json(spark, tmp_path):
    # document (multiLine) JSON in a non-builtin charset: the json
    # branch enables the java-charsets path without a lineSep (the
    # whole file is one document)
    doc = {"title": "テスト文書", "items": [{"name": "項目" + str(i)}
                                            for i in range(5)]}
    f = tmp_path / "doc.json"
    f.write_bytes(json.dumps(doc, ensure_ascii=False,
                             indent=2).encode("shift_jis"))
    s = sniff(f.read_bytes())
    assert s.encoding == "shift_jis" and s.format == "json"
    from structa_spark.sources.reader import open_source
    df = open_source(spark, str(f))
    row = df.collect()[0]
    assert row.title == "テスト文書"
    assert len(row["items"]) == 5


def test_xml_rows_convention(spark, tmp_path):
    # a root of homogeneous repeated children reads as one row per
    # child; attributes become @keys, text leaves stay strings (the
    # analyzer's string ladder re-types them)
    f = tmp_path / "rows.xml"
    f.write_text(
        '<?xml version="1.0"?>\n'
        "<advisories>\n"
        '  <advisory id="USN-1"><title>first</title>'
        "<score>7.5</score></advisory>\n"
        '  <advisory id="USN-2"><title>second</title>'
        "<score>9.1</score></advisory>\n"
        '  <advisory id="USN-3"><title>third</title>'
        "<score>3.2</score></advisory>\n"
        "</advisories>\n")
    from structa_spark.sources.detect import sniff
    assert sniff(f.read_bytes()).format == "xml"
    from structa_spark.sources.reader import open_source
    df = open_source(spark, str(f))
    rows = sorted(df.collect(), key=lambda r: r["@id"])
    assert len(rows) == 3
    assert rows[0]["@id"] == "USN-1"
    assert rows[0]["title"] == "first"
    assert rows[0]["score"] == "7.5"  # untyped text; analyzer re-types


def test_xml_single_document_nested(spark, tmp_path):
    # heterogeneous children -> one row; repeated inner tags group
    # into an array; mixed attribute+text nodes carry #text
    f = tmp_path / "doc.xml"
    f.write_text(
        "<report>\n"
        "  <name>q3</name>\n"
        '  <item rank="1">alpha</item>\n'
        '  <item rank="2">beta</item>\n'
        "</report>\n")
    from structa_spark.sources.reader import open_source
    df = open_source(spark, str(f))
    rows = df.collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.name == "q3"
    items = sorted(r["item"], key=lambda d: d["@rank"])
    assert [(d["@rank"], d["#text"]) for d in items] == [
        ("1", "alpha"), ("2", "beta")]


def test_xml_profiles_end_to_end(spark, tmp_path):
    # the reference refuses XML (structa/source.py:249-250); here a
    # sniffed XML export flows through open_source -> analyze and the
    # score column comes out a str-of-float
    f = tmp_path / "e2e.xml"
    f.write_text(
        "<rows>" + "".join(
            f"<row><id>{i}</id><score>{i}.5</score></row>"
            for i in range(20)) + "</rows>")
    from structa_spark import analyze
    from structa_spark.sources.reader import open_source
    p = analyze(open_source(spark, str(f)))
    assert p.row_count == 20
    text = p.render()
    assert "int" in text and "float" in text


def test_xml_repeated_tag_type_is_stable_across_rows(spark, tmp_path):
    # a field repeated in SOME rows but singular in others must be an
    # array in every row, or Spark's inference stringifies the arrays
    f = tmp_path / "mixed.xml"
    f.write_text(
        "<advisories>"
        "<advisory><ref>a</ref></advisory>"
        "<advisory><ref>a</ref><ref>b</ref></advisory>"
        "</advisories>")
    from structa_spark.sources.reader import open_source
    rows = sorted(open_source(spark, str(f)).collect(),
                  key=lambda r: len(r["ref"]))
    assert list(rows[0]["ref"]) == ["a"]
    assert list(rows[1]["ref"]) == ["a", "b"]


def test_xml_malformed_yields_corrupt_record_not_job_failure(
        spark, tmp_path):
    # the sniffer routes any '<'-leading file here, including HTML;
    # mirror the JSON reader's PERMISSIVE contract
    f = tmp_path / "page.xml"
    f.write_text("<html><body>unclosed <br> tag &nbsp;</body></html>")
    from structa_spark.sources.reader import open_source
    rows = open_source(spark, str(f)).collect()
    assert len(rows) == 1
    assert "unclosed" in rows[0]["_corrupt_xml"]


def test_xml_non_utf8_encoding_reads(spark, tmp_path):
    # shift_jis XML without a matching declaration: expat cannot
    # decode it natively, so the sniffed-charset retry must kick in
    f = tmp_path / "ja.xml"
    body = ("<rows><row><title>日本語のテスト文書です漢字かな" \
            "</title></row>"
            "<row><title>二つ目の文書もあります完全に</title></row>"
            "</rows>")
    f.write_bytes(body.encode("shift_jis"))
    from structa_spark.sources.detect import sniff
    s = sniff(f.read_bytes())
    assert s.format == "xml"
    from structa_spark.sources.reader import open_source
    titles = {r["title"] for r in open_source(spark, str(f)).collect()}
    assert "日本語のテスト文書です漢字かな" in titles
    assert "二つ目の文書もあります完全に" in titles


def test_western_accents_not_claimed_by_cjk_or_cyrillic():
    """Accented Western text mis-decodes through CJK/Cyrillic tables
    as ISOLATED native chars inside ASCII words; the adjacency
    evidence must reject those claims so the text falls through to
    the Western single-byte tier instead of mojibake."""
    from structa_spark.sources.detect import detect_encoding
    for txt in ["héllo wörld", "Müller straße äöü",
                "naïve café résumé", "garçon français où ça",
                "señor año mañana"]:
        enc, conf = detect_encoding((txt + " ").encode("latin-1") * 20)
        assert enc in ("iso-8859-1", "windows-1252"), (txt, enc)
    # genuine non-Latin prose keeps detecting (native chars run
    # together, so the adjacency factor is ~1)
    for txt, codec in [
            ("こんにちは世界、これはテストです。", "shift_jis"),
            ("안녕하세요 세계 여러분 반갑습니다", "euc_kr"),
            ("這是一段繁體中文測試文字內容", "big5"),
            ("привет мир это тестовый текст для проверки",
             "windows-1251")]:
        enc, _ = detect_encoding((txt + " ").encode(codec) * 10)
        assert enc == codec, (txt, enc)
