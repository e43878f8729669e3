"""Zeshel / KILT / ECB+ sources on reference-format micro-fixtures."""

import json


def test_zeshel_mentions(spark):
    from streaming_cdc_spark.sources.zeshel import zeshel_mentions

    docs = spark.createDataFrame(
        [
            ("d1", "Star Wars", "a space opera by Lucas", "movies"),
            ("d2", "Lucas", "Lucas made Star Wars films", "movies"),
        ],
        "document_id string, title string, text string, category string",
    )
    mentions = spark.createDataFrame(
        # tokens of d1: [a, space, opera, by, Lucas]; span [4,4] = 'Lucas'
        [("d1", "d2", 4, 4)],
        "context_document_id string, label_document_id string, start_index int, end_index int",
    )
    out = zeshel_mentions(docs, mentions).collect()
    m = [r for r in out if r["document_id"] == "d1"][0]
    assert m["left_context"] == "a space opera by"
    assert m["right_context"] == ""
    assert m["entity_id"] == "Lucas"
    assert m["category"] == "movies"
    # self-mention for label doc d2: title removed at first occurrence
    sm = [r for r in out if r["document_id"] == "d2"][0]
    assert sm["mention"] == "Lucas"
    assert sm["left_context"] == ""
    assert sm["right_context"] == "made Star Wars films"
    # contiguous mention_index
    assert sorted(r["mention_index"] for r in out) == list(range(len(out)))


def test_kilt_source(spark, tmp_path):
    from streaming_cdc_spark.sources.kilt import read_kilt_mentions

    p = tmp_path / "kilt.jsonl"
    rows = [
        {
            "id": "q1",
            "meta": {"left_context": "born in", "mention": "Honolulu", "right_context": "in 1961"},
            "output": [{"answer": "Honolulu"}],
        },
        {"id": "q2", "meta": {"left_context": "", "mention": "x", "right_context": ""}, "output": []},
    ]
    p.write_text("\n".join(json.dumps(r) for r in rows))
    got = read_kilt_mentions(spark, str(p)).collect()
    assert len(got) == 1  # empty-output row dropped
    assert got[0]["mention"] == "Honolulu"
    assert got[0]["entity_id"] == "Honolulu"


ECB_XML = """<?xml version="1.0" encoding="UTF-8"?>
<Document doc_name="t.xml">
  <token t_id="1" sentence="0" number="0">The</token>
  <token t_id="2" sentence="0" number="1">attack</token>
  <token t_id="3" sentence="1" number="0">yesterday</token>
  <token t_id="4" sentence="1" number="1">hurt</token>
  <Markables>
    <ACTION_OCCURRENCE m_id="1"><token_anchor t_id="2"/></ACTION_OCCURRENCE>
    <HUMAN_PART m_id="2"><token_anchor t_id="1"/><token_anchor t_id="2"/></HUMAN_PART>
    <NEG_SOMETHING m_id="3"><token_anchor t_id="3"/></NEG_SOMETHING>
  </Markables>
  <Relations>
    <CROSS_DOC_COREF r_id="R1"><source m_id="2"/></CROSS_DOC_COREF>
    <CROSS_DOC_COREF r_id="R2"><source m_id="3"/></CROSS_DOC_COREF>
  </Relations>
</Document>
"""


def test_ecbplus_source(spark, tmp_path):
    from streaming_cdc_spark.sources.ecbplus import read_ecbplus

    (tmp_path / "t.xml").write_text(ECB_XML)
    got = read_ecbplus(spark, str(tmp_path / "t.xml")).collect()
    # NEG_* markable filtered; HUMAN_PART span [1,2] kept
    assert len(got) == 1
    r = got[0]
    assert r["mention"] == "The attack"
    assert r["right_context"] == "yesterday hurt"
    assert r["entity_id"] == "R1"

    # gold-sentence filter: restrict to sentence 1 -> span crossing 0/1 dropped
    got2 = read_ecbplus(spark, str(tmp_path / "t.xml"), gold_sentences={"1"}).collect()
    assert got2 == []


# ---------------------------------------------------------------- kafka

def test_kafka_payload_parsing_static(spark):
    """Value decoding is pure DataFrame code: binary JSON payloads +
    (partition, offset) metadata -> schema'd mentions with stream
    position, no broker needed."""
    import json

    from streaming_cdc_spark.sources.kafka import parse_mention_payloads

    recs = [
        {"left_context": "l", "mention": "m1", "right_context": "r",
         "entity_id": "E1", "mention_index": 0},
        {"left_context": "", "mention": "m2", "right_context": "",
         "entity_id": "E2", "mention_index": 1},
    ]
    rows = [(0, i, bytearray(json.dumps(r).encode())) for i, r in enumerate(recs)]
    raw = spark.createDataFrame(rows, "partition int, offset long, value binary")
    got = parse_mention_payloads(raw).collect()
    assert [r["mention"] for r in got] == ["m1", "m2"]
    assert [(r["stream_key"], r["stream_pos"]) for r in got] == [(0, 0), (0, 1)]
    assert got[0]["entity_id"] == "E1"


def test_kafka_source_guard(spark):
    """Without the connector jar the wrapper must fail with the
    documented fallback hint (or, if a connector IS present, build a
    streaming DataFrame)."""
    import pytest

    from streaming_cdc_spark.sources.kafka import read_mention_stream_kafka

    try:
        df = read_mention_stream_kafka(spark, "localhost:9092", "mentions")
    except RuntimeError as e:
        assert "spark-sql-kafka" in str(e)
    else:  # pragma: no cover - only with connector on classpath
        assert df.isStreaming
