"""The pure-Python gate reference agrees with
``dbbspark.streaming.linededup.process_batch`` on generated sf0.001
nights, re-deliveries and a replay included."""

from __future__ import annotations

import gen


def test_reference_matches_process_batch(spark, tmp_path):
    from dbbspark.streaming.linededup import process_batch

    documents = gen.make_tables(11, 0.001)["documents"]
    ref = gen.GateReference()
    index, out = str(tmp_path / "index"), str(tmp_path / "gated")
    nights = [gen.night_docs(documents, 11, k) for k in range(3)]
    expected = [ref.gate(docs) for docs in nights]
    dropped = 0
    for k, docs in list(enumerate(nights)) + [(2, nights[2])]:
        batch = spark.createDataFrame(docs, "doc_id long, text string")
        process_batch(batch, k, index, out)
        got = {
            r["doc_id"]: r["text"]
            for r in spark.read.parquet(out).where(f"batch = {k}").collect()
        }
        assert got == expected[k], f"night {k}"
        dropped += sum(got[i] != text for i, text in docs)
    assert dropped > 0  # the nights do exercise the gate
