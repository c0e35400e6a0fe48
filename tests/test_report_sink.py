"""Report-sink parity: the reference's raport.pdf content (overall pie +
per-service dimension pies, Raport.py:101-213) assembled from the
streaming aggregate, with golden values on the hand-computed fixture."""

from __future__ import annotations

import pytest

from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.sources import (
    jdbc,
)
from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.streaming import (
    clickstream,
    report,
)
from test_clickstream_parity import CLICKS, USERS


@pytest.fixture(scope="module")
def histograms(spark):
    users = spark.createDataFrame(
        USERS, "user_id long, name string, email string, age int, "
        "city string, gender string"
    )
    clicks = spark.createDataFrame(CLICKS, "user_id long, service string")
    return clickstream.topic_histograms(
        clickstream.fan_out_messages(clicks, users)
    )


def test_report_model_overall_section(histograms):
    model = report.report_model(histograms)
    overall = {e["service"]: e for e in model["overall"]}
    # Raport.py:144-148: gitlab 3 clicks, kafka 2 (home dropped at ingest)
    assert overall["gitlab"]["clicks"] == 3
    assert overall["kafka"]["clicks"] == 2
    assert overall["gitlab"]["label"] == "gitlab (3)"  # :152 f-string
    assert abs(overall["gitlab"]["share"] - 3 / 5) < 1e-9  # :155 autopct
    assert "home" not in overall


def test_report_model_service_sections(histograms):
    model = report.report_model(histograms)
    services = {s["service"]: s["histograms"] for s in model["services"]}
    # gitlab ages 30,30,25 → histogram with share (Raport.py:176-193)
    age = dict((v, (c, s)) for v, c, s in services["gitlab"]["age"])
    assert age["30"][0] == 2 and abs(age["30"][1] - 2 / 3) < 1e-6
    assert set(services["gitlab"]) == {"age", "city", "gender"}


def test_report_null_dimension_value(spark):
    """A user registered without a gender (FIXTURES.md §B) yields a NULL
    histogram value: the model keeps it as None, sorted after the
    non-NULL values, and both renderers label it instead of raising."""
    import xml.dom.minidom

    users = spark.createDataFrame(
        USERS + [(4, "Di", "di@x.pl", 41, "Sopot", None)],
        "user_id long, name string, email string, age int, "
        "city string, gender string",
    )
    clicks = spark.createDataFrame(
        CLICKS + [(4, "gitlab"), (4, "gitlab")], "user_id long, service string"
    )
    model = report.report_model(
        clickstream.topic_histograms(clickstream.fan_out_messages(clicks, users))
    )
    services = {s["service"]: s["histograms"] for s in model["services"]}
    gender = services["gitlab"]["gender"]
    assert [v for v, _, _ in gender] == ["Kobieta", "Mężczyzna", None]
    assert gender[-1][1] == 2
    svg = report.render_svg(model)
    xml.dom.minidom.parseString(svg)
    assert "brak (2)" in svg
    assert rb"brak \(2\)" in report.render_pdf(model)


def test_report_stream_incremental(spark, histograms, sf_dir, tmp_path):
    """The 60 s loop as foreachBatch: AvailableNow over a file stream of
    the messages must produce the identical model as batch."""
    import os

    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.streaming.clickstream import (
        fan_out_messages,
    )

    users = spark.createDataFrame(
        USERS, "user_id long, name string, email string, age int, "
        "city string, gender string"
    )
    clicks = spark.createDataFrame(CLICKS, "user_id long, service string")
    msg_dir = os.path.join(str(tmp_path), "messages")
    fan_out_messages(clicks, users).write.parquet(msg_dir)

    stream = spark.readStream.schema("topic string, value string").parquet(
        msg_dir
    )
    captured: list = []
    svg_path = str(tmp_path / "raport.svg")
    svg_write = report.svg_sink(svg_path)

    def sink(model, epoch):
        captured.append(model)
        svg_write(model, epoch)

    q = report.run_report_stream(stream, sink, available_now=True)
    assert q.awaitTermination(300), "report run did not finish"
    assert captured, "sink never invoked"
    batch_model = report.report_model(histograms)
    assert captured[-1] == batch_model
    # the artifact on disk is the render of the final epoch's model —
    # the full reference loop (stream → model → raport file) end-to-end
    with open(svg_path, encoding="utf-8") as fh:
        assert fh.read() == report.render_svg(batch_model)


def test_render_svg_matches_golden(histograms):
    """The rendered artifact is byte-stable: same model → same SVG.
    Golden generated from the hand-computed fixture; a diff here means
    the renderer's layout/labels/shares changed."""
    import os

    model = report.report_model(histograms)
    svg = report.render_svg(model)
    golden = os.path.join(os.path.dirname(__file__), "golden", "raport.svg")
    with open(golden, encoding="utf-8") as fh:
        assert svg == fh.read()


def test_render_svg_content_and_structure(histograms):
    import xml.dom.minidom

    model = report.report_model(histograms)
    svg = report.render_svg(model)
    xml.dom.minidom.parseString(svg)  # well-formed
    # Raport.py parity: title, count labels, per-service sections
    assert "Raport analizy" in svg
    assert "gitlab (3)" in svg and "kafka (2)" in svg  # :152 f-string
    assert "Raport serwisu: gitlab" in svg
    assert "60.0%" in svg  # gitlab share 3/5 (:155 autopct)
    assert "home" not in svg  # dropped at ingest


def test_svg_sink_writes_atomically(histograms, tmp_path):
    model = report.report_model(histograms)
    out = str(tmp_path / "raport.svg")
    report.svg_sink(out)(model, epoch_id=0)
    with open(out, encoding="utf-8") as fh:
        assert fh.read() == report.render_svg(model)
    assert not (tmp_path / "raport.svg.tmp").exists()


def _xref_offsets(pdf: bytes) -> dict[int, int]:
    """Parse the xref table: object number → byte offset. A mini
    validator — a malformed table breaks every real viewer."""
    startxref = int(pdf[pdf.rindex(b"startxref") :].split()[1])
    assert pdf[startxref:].startswith(b"xref")
    lines = pdf[startxref:].split(b"\n")
    first, count = map(int, lines[1].split())
    out = {}
    for i in range(count):
        off, _gen, kind = lines[2 + i].split()
        if kind == b"n":
            out[first + i] = int(off)
    return out


def test_render_pdf_structure_valid(histograms):
    """Structural validity: header, xref offsets that actually point at
    their objects, stream /Length values that match the bytes."""
    import re

    model = report.report_model(histograms)
    pdf = report.render_pdf(model)
    assert pdf.startswith(b"%PDF-1.4\n") and pdf.endswith(b"%%EOF\n")
    offsets = _xref_offsets(pdf)
    for num, off in offsets.items():
        assert pdf[off:].startswith(f"{num} 0 obj".encode())
    for m in re.finditer(rb"<< /Length (\d+) >>\nstream\n", pdf):
        n = int(m.group(1))
        assert pdf[m.end() + n : m.end() + n + 11] == b"\nendstream\n"
    # one title page + one page per service (Raport.py PdfPages layout)
    assert pdf.count(b"/Type /Page ") == 1 + len(model["services"])
    assert pdf.count(b"/Type /Pages ") == 1


def test_render_pdf_content_parity(histograms):
    """Raport.py parity inside the content streams: title, count
    labels, shares, per-service headings; home excluded. '(' is escaped
    in PDF strings, hence the backslashes."""
    model = report.report_model(histograms)
    pdf = report.render_pdf(model)
    assert "Raport analizy zachowa".encode() in pdf  # ż is re-encoded
    assert rb"gitlab \(3\)" in pdf and rb"kafka \(2\)" in pdf
    assert b"60.0%" in pdf  # gitlab share 3/5 (:155 autopct)
    assert b"Raport serwisu: gitlab" in pdf
    assert b"(home" not in pdf
    # ż (0xC0+16 in the fixed encoding table) appears in the title, and
    # the encoding object declares the glyph
    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.streaming.pdfcanvas import (
        encode_text,
    )

    assert encode_text(model["title"]) in pdf
    assert b"/zdotaccent" in pdf
    # pie slices: overall pie has 2 wedges; each 'h b' closes+paints one
    assert pdf.count(b"h b") >= 2


def test_render_pdf_matches_golden(histograms):
    """Byte-stable: same model → same PDF (no timestamps, fixed
    formatting). A diff means layout/labels/shares changed."""
    import os

    model = report.report_model(histograms)
    pdf = report.render_pdf(model)
    assert pdf == report.render_pdf(model)  # deterministic
    golden = os.path.join(os.path.dirname(__file__), "golden", "raport.pdf")
    with open(golden, "rb") as fh:
        assert pdf == fh.read()


def test_pdf_sink_writes_atomically(histograms, tmp_path):
    model = report.report_model(histograms)
    out = str(tmp_path / "raport.pdf")
    report.pdf_sink(out)(model, epoch_id=0)
    with open(out, "rb") as fh:
        assert fh.read() == report.render_pdf(model)
    assert not (tmp_path / "raport.pdf.tmp").exists()


def test_login_lookup_and_register(spark, tmp_path):
    users = spark.createDataFrame(
        [("Ala", "ala@x.pl", 30, "Gdansk", "Kobieta", "pw1")],
        jdbc.USERS_SCHEMA,
    )
    hit = jdbc.login_lookup(users, "ala@x.pl", "pw1").collect()
    assert len(hit) == 1 and hit[0].city == "Gdansk"
    miss = jdbc.login_lookup(users, "ala@x.pl", "wrong").collect()
    assert miss == []

    sink = str(tmp_path / "users_sink")
    jdbc.register_append(sink, users)
    jdbc.register_append(sink, users)
    assert spark.read.parquet(sink).count() == 2


def test_jdbc_reader_builder(spark):
    # construction-only (no DB in env): partitioned read requires bounds
    jdbc.jdbc_reader(spark, "jdbc:mysql://h/db", "users")
    with pytest.raises(ValueError):
        jdbc.jdbc_reader(
            spark, "jdbc:mysql://h/db", "users", partition_column="id"
        )
