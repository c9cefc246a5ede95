"""PDF kernel tests (fixtures p01-p05, FIXTURES.md §1.2)."""

from ragflow_spark.kernels.pdfx import pdf_extract
from ragflow_spark.kernels.sniff import (
    CODE_OK,
    CODE_PDF_ENCRYPTED,
    CODE_PDF_TRUNCATED,
)
from ragflow_spark.sources.pdfgen import make_pdf, single_column_pdf, two_column_pdf


def test_p01_single_column_reading_order():
    paras = [f"paragraph {i} line of text" for i in range(10)]
    pdf = single_column_pdf(paras)
    sections, code = pdf_extract(pdf)
    assert code == CODE_OK
    texts = [t for _, t in sections]
    assert texts == paras  # top-down order preserved


def test_p01_multi_page():
    paras = [f"line {i}" for i in range(90)]  # > 40 lines/page => 3 pages
    sections, code = pdf_extract(single_column_pdf(paras))
    assert code == CODE_OK
    assert [t for _, t in sections] == paras


def test_p02_two_columns_left_then_right():
    left = [f"left {i}" for i in range(5)]
    right = [f"right {i}" for i in range(5)]
    sections, code = pdf_extract(two_column_pdf(left, right))
    assert code == CODE_OK
    assert [t for _, t in sections] == left + right


def test_p03_header_footer_suppression():
    paras = [f"body line {i}" for i in range(80)]  # 2 pages
    pdf = single_column_pdf(paras, header="Repeated Header", footer="page N")
    sections, code = pdf_extract(pdf)
    assert code == CODE_OK
    texts = [t for _, t in sections]
    assert "Repeated Header" not in texts and "page N" not in texts
    assert texts == paras


def test_p04_truncated():
    pdf = single_column_pdf(["some text here"] * 5)
    sections, code = pdf_extract(pdf[: int(len(pdf) * 0.6)])
    assert code == CODE_PDF_TRUNCATED and sections == []


def test_p05_encrypted():
    pdf = make_pdf([[(72.0, 700.0, "secret")]], encrypted=True)
    sections, code = pdf_extract(pdf)
    assert code == CODE_PDF_ENCRYPTED and sections == []


def test_internal_error_keeps_sniffed_kind(monkeypatch):
    """The catch-all's coded row keeps the kind sniffing gave: a PDF
    whose parser raises is ('pdf', 'failed', CODE_INTERNAL); a payload
    whose sniffing raises falls back to 'html'."""
    from ragflow_spark.kernels import extract
    from ragflow_spark.kernels.sniff import CODE_INTERNAL

    def boom(_payload):
        raise ValueError("parser bug")

    monkeypatch.setattr(extract, "pdf_extract", boom)
    r = extract.extract_document(single_column_pdf(["some text"]))
    assert (r.content_type, r.parse_status, r.parse_code) == (
        "pdf", "failed", CODE_INTERNAL
    )
    monkeypatch.setattr(extract, "sniff_payload", boom)
    r = extract.extract_document(b"<html>")
    assert (r.content_type, r.parse_code) == ("html", CODE_INTERNAL)


def test_uncompressed_stream():
    pdf = make_pdf([[(72.0, 700.0, "hello world")]], compress=False)
    sections, code = pdf_extract(pdf)
    assert code == CODE_OK
    assert [t for _, t in sections] == ["hello world"]


def test_escapes_in_strings():
    pdf = make_pdf([[(72.0, 700.0, "paren (x) and \\ slash")]])
    sections, code = pdf_extract(pdf)
    assert code == CODE_OK
    assert sections[0][1] == "paren (x) and \\ slash"


def test_determinism():
    pdf1 = single_column_pdf(["a b c"] * 3, header="H", footer="F")
    pdf2 = single_column_pdf(["a b c"] * 3, header="H", footer="F")
    assert pdf1 == pdf2
    assert pdf_extract(pdf1) == pdf_extract(pdf2)


class TestTableStructure:
    def test_table_rows_extracted(self):
        from ragflow_spark.kernels.pdfx import pdf_extract
        from ragflow_spark.sources.pdfgen import table_pdf

        rows = [
            ["name", "qty", "price"],
            ["bolt", "12", "0.40"],
            ["nut", "99", "0.15"],
        ]
        data = table_pdf(["Intro paragraph about parts."], rows)
        sections, code = pdf_extract(data)
        assert code == 0
        row_secs = [t for k, t in sections if k == "row"]
        assert row_secs == ["name\tqty\tprice", "bolt\t12\t0.40", "nut\t99\t0.15"]
        # the paragraph survives as a p section BEFORE the table
        kinds = [k for k, _ in sections]
        assert kinds.index("p") < kinds.index("row")

    def test_single_aligned_line_is_not_a_table(self):
        from ragflow_spark.kernels.pdfx import pdf_extract
        from ragflow_spark.sources.pdfgen import table_pdf

        # one aligned baseline only (< MIN_TABLE_ROWS) -> stays text
        data = table_pdf([], [["a", "b", "c"]])
        sections, code = pdf_extract(data)
        assert code == 0
        assert all(k == "p" for k, _ in sections)

    def test_two_columns_still_read_as_columns(self):
        from ragflow_spark.kernels.pdfx import pdf_extract
        from ragflow_spark.sources.pdfgen import two_column_pdf

        data = two_column_pdf(["L1", "L2", "L3"], ["R1", "R2", "R3"])
        sections, code = pdf_extract(data)
        assert code == 0
        texts = [t for _k, t in sections]
        # left column fully before right column; never tab-joined rows
        assert texts == ["L1", "L2", "L3", "R1", "R2", "R3"]

    def test_misaligned_grid_is_not_a_table(self):
        from ragflow_spark.kernels.pdfx import pdf_extract
        from ragflow_spark.sources.pdfgen import make_pdf

        # 3 runs per baseline but x grids don't align across lines
        page = [
            (72.0, 700.0, "a"), (210.0, 700.0, "b"), (395.0, 700.0, "c"),
            (90.0, 684.0, "d"), (260.0, 684.0, "e"), (430.0, 684.0, "f"),
        ]
        sections, code = pdf_extract(make_pdf([page]))
        assert code == 0
        assert all(k == "p" for k, _ in sections)


def test_tokenizer_matches_reference_on_corpus_and_garbage():
    """The regex-scanning tokenizer must yield exactly the reference
    byte-at-a-time tokenizer's (x, y, text) stream — on real content
    streams and on adversarial garbage."""
    import random
    import zlib

    from ragflow_spark.kernels.pdfx import (
        _iter_strings_with_pos,
        _iter_strings_with_pos_reference,
    )
    from ragflow_spark.sources.pdfgen import single_column_pdf, two_column_pdf

    def streams_of(pdf: bytes):
        # crude: pull every stream body (skip "stream" inside "endstream")
        out = []
        i = 0
        while True:
            a = pdf.find(b"stream", i)
            if a < 0:
                return out
            if pdf[max(0, a - 3) : a] == b"end":
                i = a + 6
                continue
            b = pdf.find(b"endstream", a)
            if b < 0:
                return out
            body = pdf[a + 6 : b].strip(b"\r\n")
            try:
                out.append(zlib.decompress(body))
            except zlib.error:
                out.append(body)
            i = b + 9

    paras = ["p%d " % i + "alpha beta (gamma) \\ delta " * 9 for i in range(12)]
    corpora = streams_of(single_column_pdf(paras, header="H", footer="F"))
    corpora += streams_of(two_column_pdf(paras[:6], paras[6:]))
    rng = random.Random(42)
    alphabet = b"()\\[]0123456789.-+ \n\tTdTDTmTLT*BTETTj'\"TJ\x05abz"
    for _ in range(300):
        corpora.append(bytes(rng.choice(alphabet) for _ in range(rng.randrange(0, 120))))
    assert corpora
    for content in corpora:
        assert list(_iter_strings_with_pos(content)) == list(
            _iter_strings_with_pos_reference(content)
        ), content[:60]
