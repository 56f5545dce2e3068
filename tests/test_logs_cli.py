"""Event log (W9/S9/W10) + queue metrics (A4) + CLI transcript (U6)."""

from __future__ import annotations

import csv
import glob
import json
import os
import subprocess
import sys
from datetime import datetime, timedelta, timezone

from wc_vector_indexing_spark.logs import EventLog, queue_metrics


def test_event_log_roundtrip_and_page(spark, tmp_path):
    log = EventLog(spark, str(tmp_path / "logs"))
    now = datetime.now(timezone.utc)
    log.append(
        [
            {"action": "job", "outcome": "success", "product_id": 1, "target": "local",
             "duration_ms": 120, "count": 5, "ts": now - timedelta(minutes=2)},
            {"action": "job", "outcome": "error", "product_id": 2, "target": "local",
             "message": "boom", "details": {"code": "E1"}, "ts": now - timedelta(minutes=1)},
            {"action": "scan", "outcome": "info", "count": 9, "ts": now},
        ]
    )
    assert log.read().count() == 3
    errs = log.page(outcome="error").collect()
    assert len(errs) == 1 and errs[0].product_id == 2 and errs[0].message == "boom"
    newest_first = [r.action for r in log.page(limit=3).collect()]
    assert newest_first[0] == "scan"


def test_event_log_prune(spark, tmp_path):
    log = EventLog(spark, str(tmp_path / "logs"))
    old = datetime.now(timezone.utc) - timedelta(days=30)
    log.append([{"action": "job", "outcome": "success", "ts": old}])
    log.append([{"action": "job", "outcome": "success"}])
    assert log.read().count() == 2
    dropped = log.prune(retention_days=7)
    assert len(dropped) == 1
    assert log.read().count() == 1


def test_event_log_csv_export(spark, tmp_path):
    log = EventLog(spark, str(tmp_path / "logs"))
    log.append([{"action": "job", "outcome": "success", "product_id": i} for i in range(10)])
    out = log.export_csv(str(tmp_path / "csv"))
    files = glob.glob(os.path.join(out, "*.csv"))
    assert files
    with open(files[0]) as f:
        rows = list(csv.DictReader(f))
    assert len(rows) == 10 and "action" in rows[0]


def test_queue_metrics(spark, tmp_path):
    from tests.test_scans import mk_state
    from wc_vector_indexing_spark.state.store import sync_state_store

    store = mk_state(spark, sync_state_store(spark, str(tmp_path / "s")))
    m = queue_metrics(store.read())
    assert m["state_rows"] == 3
    assert m["by_status"] == {"synced": 2, "error": 1}
    assert m["products"] == 3


def test_cli_chunk_transcript_deterministic():
    cmd = [
        sys.executable, "-m", "wc_vector_indexing_spark.cli", "chunk",
        "--text", "First sentence here. Second one follows! Third ends it? " * 8,
        "--size", "20", "--overlap", "4",
    ]
    r1 = subprocess.run(cmd, capture_output=True, text=True, timeout=120)
    r2 = subprocess.run(cmd, capture_output=True, text=True, timeout=120)
    assert r1.returncode == 0, r1.stderr
    assert r1.stdout == r2.stdout  # golden-output surface is bit-stable
    assert "product sha:" in r1.stdout and "sha8" in r1.stdout
    lines = [l for l in r1.stdout.splitlines() if l.strip() and l.strip()[0].isdigit()]
    assert len(lines) >= 2  # multiple chunks listed


def test_cli_embed_deterministic():
    cmd = [
        sys.executable, "-m", "wc_vector_indexing_spark.cli", "embed",
        "--text", "embed me", "--model", "fake-deterministic-64",
    ]
    r1 = subprocess.run(cmd, capture_output=True, text=True, timeout=120)
    r2 = subprocess.run(cmd, capture_output=True, text=True, timeout=120)
    assert r1.returncode == 0, r1.stderr
    assert "dimension: 64" in r1.stdout
    assert r1.stdout == r2.stdout


def test_sync_telemetry_rows(spark, tmp_path):
    from pyspark.sql import Row

    from wc_vector_indexing_spark.config import ChunkingConfig, EngineConfig
    from wc_vector_indexing_spark.operators.delta_sync import sync_products
    from wc_vector_indexing_spark.operators.embed import DeterministicEmbedder
    from wc_vector_indexing_spark.state.store import sync_state_store, vector_index_store

    log = EventLog(spark, str(tmp_path / "logs"))
    config = EngineConfig(
        model="fake-deterministic-64", chunking=ChunkingConfig(size=25, overlap=4)
    )
    state = sync_state_store(spark, str(tmp_path / "s"))
    index = vector_index_store(spark, str(tmp_path / "i"))
    products = spark.createDataFrame([Row(product_id=1, text="telemetry doc one.")])
    sync_products(products, state, index, config, DeterministicEmbedder(),
                  text_col="text", event_log=log)
    rows = log.page(action="sync_batch").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.outcome == "success" and r.target == "local"
    assert "upserted=" in r.message and r.duration_ms > 0
    details = json.loads(r.details)
    assert {k: details[k] for k in ("upserted", "deleted", "skipped", "errored")} == {
        "upserted": r["count"], "deleted": 0, "skipped": 0, "errored": 0
    }
    assert r["count"] > 0
    assert set(details["seconds"]) == {"chunk_diff", "embed", "commit"}
    assert all(v >= 0 for v in details["seconds"].values())
    assert details["seconds"]["embed"] > 0 and details["seconds"]["commit"] > 0
    assert details["versions"] == {
        "index": index.current_version(), "state": state.current_version()
    }


def test_cli_curate_and_mix(spark, tmp_path, capsys):
    import json as _json

    from wc_vector_indexing_spark.cli import main

    rc = main(
        [
            "curate",
            "--sf-dir", "/root/testdata/sf0.001",
            "--out", str(tmp_path / "curated"),
        ]
    )
    assert rc == 0
    lines = [_json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    reasons = {d["reject_reason"]: d["n"] for d in lines}
    assert "kept" in reasons and sum(reasons.values()) == 500
    assert (tmp_path / "curated" / "curated").is_dir()
    curated = spark.read.parquet(str(tmp_path / "curated" / "curated"))
    assert curated.count() == reasons["kept"]

    rc = main(
        [
            "mix",
            "--sf-dir", "/root/testdata/sf0.001",
            "--out", str(tmp_path / "mixed"),
            "--weights", "src0=0.5,src1=0.5",
        ]
    )
    assert rc == 0
    out = [_json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    by_source = {d["source"]: d for d in out}
    assert by_source["src0"]["n_after"] > 0
    assert by_source["src2"]["n_after"] == 0  # unlisted source dropped


def test_cli_export_shards(spark, tmp_path, capsys):
    import json as _json

    from wc_vector_indexing_spark.cli import main

    rc = main(
        [
            "export",
            "--sf-dir", "/root/testdata/sf0.001",
            "--out", str(tmp_path / "shards"),
            "--partition-by", "source",
            "--max-records", "50",
        ]
    )
    assert rc == 0
    manifest = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert manifest["n_shards"] >= 10  # 500 docs / 50 cap across sources
    back = spark.read.json(str(tmp_path / "shards"))
    assert back.count() == 500


def test_cli_select_dsir(spark, tmp_path, capsys):
    import json as _json

    from wc_vector_indexing_spark.cli import main

    rc = main(
        [
            "select",
            "--sf-dir", "/root/testdata/sf0.001",
            "--out", str(tmp_path / "selected"),
            "--target-sources", "src1,src2",
            "--fraction", "0.4",
        ]
    )
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["total"] == 500
    # approx-percentile threshold: kept within a tolerant band of 40%
    assert 0.25 * out["total"] <= out["kept"] <= 0.55 * out["total"]
    sel = spark.read.parquet(str(tmp_path / "selected"))
    assert sel.count() == out["kept"]
    # the selected slice skews toward the target sources vs the corpus
    frac_target = (
        sel.filter(sel.source.isin("src1", "src2")).count() / sel.count()
    )
    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base_frac = base.filter(base.source.isin("src1", "src2")).count() / base.count()
    assert frac_target > base_frac


def test_cli_prep_backfill(spark, tmp_path, capsys):
    import json as _json

    from wc_vector_indexing_spark.cli import main

    rc = main(
        [
            "prep",
            "--sf-dir", "/root/testdata/sf0.001",
            "--out", str(tmp_path / "prepped"),
            "--target-sources", "src1,src2",
        ]
    )
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["input"] == 500 and 0 < out["prepped"] <= 500
    prepped = spark.read.parquet(str(tmp_path / "prepped"))
    cols = set(prepped.columns)
    assert {"doc_id", "text", "log_weight", "token_ids"} <= cols
    row = prepped.orderBy("doc_id").head()
    assert isinstance(row.log_weight, float) and len(row.token_ids) > 0


def test_cli_prep_hash_sized_doc_ids(spark, tmp_path, capsys):
    """Corpora whose doc_ids are large hashes must not overflow the
    event_ts stand-in (timestamp_seconds domain is ~±9.2e12 s)."""
    import json as _json

    from pyspark.sql import functions as F

    from wc_vector_indexing_spark.cli import main

    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    hashed = base.withColumn(
        "doc_id", (F.col("doc_id") + F.lit(7 * 10**17)).cast("long")
    )
    sf = tmp_path / "sf_hash"
    hashed.write.parquet(str(sf / "documents.parquet"))
    rc = main(
        [
            "prep",
            "--sf-dir", str(sf),
            "--out", str(tmp_path / "prepped_hash"),
            "--target-sources", "src1,src2",
        ]
    )
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["input"] == 500 and 0 < out["prepped"] <= 500


def test_cli_export_tfrecord(spark, tmp_path, capsys):
    import json as _json

    from wc_vector_indexing_spark.cli import main
    from wc_vector_indexing_spark.sources.tfrecord import read_tfrecords

    rc = main(
        [
            "export",
            "--sf-dir", "/root/testdata/sf0.001",
            "--out", str(tmp_path / "tfr"),
            "--format", "tfrecord",
        ]
    )
    assert rc == 0
    manifest = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert manifest["n_records"] == 500
    back = read_tfrecords(
        spark, str(tmp_path / "tfr"),
        {"doc_id": "int64", "text": "string"},
    )
    assert back.count() == 500


def test_cli_export_safetensors_rejects_unhonored_knobs(spark, tmp_path):
    """The safetensors branch must reject EVERY write_shards knob it
    doesn't honor — --max-records previously slipped through silently
    (ADVICE r12) — and validate --key-col against the table before
    writing."""
    import pytest

    from wc_vector_indexing_spark.cli import main

    base = [
        "export",
        "--sf-dir", "/root/testdata/sf0.001",
        "--table", "embeddings",
        "--out", str(tmp_path / "st"),
        "--format", "safetensors",
    ]
    with pytest.raises(SystemExit, match="max-records"):
        main(base + ["--max-records", "7"])
    with pytest.raises(SystemExit, match="key-col"):
        main(base + ["--key-col", "no_such_col"])
    assert not (tmp_path / "st").exists()


def test_cli_export_safetensors(spark, tmp_path, capsys):
    import json as _json

    from wc_vector_indexing_spark.cli import main
    from wc_vector_indexing_spark.sources.safetensors import (
        read_safetensors_vectors,
    )

    rc = main(
        [
            "export",
            "--sf-dir", "/root/testdata/sf0.001",
            "--table", "embeddings",
            "--out", str(tmp_path / "st"),
            "--format", "safetensors",
        ]
    )
    assert rc == 0
    manifest = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert manifest["n_records"] == 500
    back = read_safetensors_vectors(
        spark, str(tmp_path / "st" / "*.safetensors"))
    assert back.count() == 500


def test_cli_export_arrow(spark, tmp_path, capsys):
    import json as _json

    from wc_vector_indexing_spark.cli import main
    from wc_vector_indexing_spark.sources.arrow_ipc import read_arrow_ipc

    rc = main(
        [
            "export",
            "--sf-dir", "/root/testdata/sf0.001",
            "--out", str(tmp_path / "arw"),
            "--format", "arrow",
        ]
    )
    assert rc == 0
    manifest = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert manifest["n_records"] == 500
    back = read_arrow_ipc(
        spark, str(tmp_path / "arw"),
        {"doc_id": "long", "text": "string", "n_chars": "long"},
    )
    assert back.count() == 500


def test_cli_tokenizer_train_and_sample(tmp_path, capsys):
    import json as _json

    from wc_vector_indexing_spark.cli import main

    art = tmp_path / "uni.json"
    rc = main(
        [
            "tokenizer",
            "--sf-dir", "/root/testdata/sf0.001",
            "--algo", "unigram",
            "--vocab-size", "120",
            "--save", str(art),
            "--sample", "the orders",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out.strip().splitlines()
    head = _json.loads(out[0])
    assert head["units"] == 120
    saved = _json.loads(art.read_text())
    assert saved["algo"] == "unigram" and len(saved["pieces"]) == 120
    assert out[1].startswith("sample: ")

    rc = main(
        [
            "tokenizer",
            "--sf-dir", "/root/testdata/sf0.001",
            "--algo", "bpe",
            "--vocab-size", "50",
        ]
    )
    assert rc == 0
    head = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert head["algo"] == "bpe" and head["units"] == 50


def test_cli_tokenizer_load_artifact(tmp_path, capsys):
    import json as _json
    import math as _math

    from wc_vector_indexing_spark.cli import main

    art = tmp_path / "uni.json"
    art.write_text(_json.dumps({
        "algo": "unigram", "max_piece_len": 2,
        "pieces": {"a": _math.log(0.3), "b": _math.log(0.2),
                   "ab": _math.log(0.5)},
    }))
    rc = main(["tokenizer", "--load", str(art), "--sample", "abab"])
    assert rc == 0
    assert capsys.readouterr().out.strip() == "sample: ab ab"


def test_cli_export_arrow_partitioned(spark, tmp_path, capsys):
    import glob as _glob
    import json as _json

    from wc_vector_indexing_spark.cli import main

    rc = main(
        [
            "export",
            "--sf-dir", "/root/testdata/sf0.001",
            "--out", str(tmp_path / "arw"),
            "--format", "arrow",
            "--partition-by", "lang",
            "--compression", "lz4",
        ]
    )
    assert rc == 0
    manifest = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert manifest["n_records"] == 500
    assert _glob.glob(str(tmp_path / "arw" / "lang=*" / "part-*.arrow"))


def test_cli_tokenizer_wordpiece_roundtrip(tmp_path, capsys):
    import json as _json

    from wc_vector_indexing_spark.cli import main

    art = tmp_path / "wp.json"
    rc = main(
        [
            "tokenizer",
            "--sf-dir", "/root/testdata/sf0.001",
            "--algo", "wordpiece",
            "--vocab-size", "140",
            "--save", str(art),
            "--sample", "the orders",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out.strip().splitlines()
    head = _json.loads(out[0])
    assert head["algo"] == "wordpiece" and head["units"] <= 140
    saved = _json.loads(art.read_text())
    assert saved["algo"] == "wordpiece" and saved["vocab"]
    sample_line = out[1]
    assert sample_line.startswith("sample: ")

    # --load segments identically without retraining (no Spark)
    rc = main(["tokenizer", "--load", str(art), "--sample", "the orders"])
    assert rc == 0
    assert capsys.readouterr().out.strip() == sample_line


def test_cli_wat_command(tmp_path, capsys):
    import json as _json

    from wc_vector_indexing_spark.cli import main
    from wc_vector_indexing_spark.sources.warc import to_warc_bytes

    warc = tmp_path / "w.warc"
    warc.write_bytes(to_warc_bytes([
        {"url": f"https://e.example/{i}",
         "html": (f"<title>P{i}</title>"
                  f'<a href="https://e.example/{(i + 1) % 3}">next</a>')}
        for i in range(3)
    ], version="1.1"))
    out = str(tmp_path / "wat_out")
    rc = main(["wat", "--warc", str(warc), "--out", out])
    assert rc == 0
    summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary == {"pages": 3, "pages_with_title": 3, "edges": 3,
                       "out": out}


def test_cli_wiki_command(tmp_path, capsys):
    import json as _json

    from wc_vector_indexing_spark.cli import main
    from wc_vector_indexing_spark.sources.wikixml import to_wiki_multistream

    pages = [{"title": f"Doc {i}", "ns": 0, "page_id": i + 1,
              "text": f"Body {i}."} for i in range(5)]
    pages[2]["redirect"] = "Doc 0"
    pages.append({"title": "Talk:X", "ns": 1, "page_id": 99, "text": "t"})
    dump, index = to_wiki_multistream(pages, pages_per_stream=2)
    (tmp_path / "d.xml.bz2").write_bytes(dump)
    (tmp_path / "i.txt").write_text(index)
    out = str(tmp_path / "wiki_out")
    rc = main(["wiki", "--dump", str(tmp_path / "d.xml.bz2"),
               "--index", str(tmp_path / "i.txt"), "--out", out,
               "--main-ns-only"])
    assert rc == 0
    summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # 6 pages - 1 redirect - 1 talk-ns = 4 kept
    assert summary["pages_written"] == 4 and summary["redirects"] == 0


def test_cli_zst_command(tmp_path, capsys):
    import json as _json

    import pyarrow as _pa

    from wc_vector_indexing_spark.cli import main

    lines = [_json.dumps({"id": i, "text": f"doc {i}"}) for i in range(6)]
    for shard in (0, 1):
        blob = ("\n".join(lines[shard * 3:(shard + 1) * 3]) + "\n").encode()
        (tmp_path / f"s{shard}.jsonl.zst").write_bytes(
            bytes(_pa.Codec("zstd").compress(blob)))
    out = str(tmp_path / "corpus")
    rc = main(["zst", "--src", str(tmp_path / "*.jsonl.zst"), "--out", out,
               "--field", "id:long", "--field", "text"])
    assert rc == 0
    summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["rows_written"] == 6 and summary["shards_read"] == 2


def test_cli_export_gguf_and_cdx_lookup(spark, tmp_path, capsys):
    import json as _json

    from wc_vector_indexing_spark.cli import main
    from wc_vector_indexing_spark.sources.gguf import read_gguf_vectors

    rc = main(
        [
            "export",
            "--sf-dir", "/root/testdata/sf0.001",
            "--table", "embeddings",
            "--out", str(tmp_path / "gguf"),
            "--format", "gguf",
        ]
    )
    assert rc == 0
    manifest = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert manifest["format"] == "gguf"
    assert manifest["ggml_type"] == "F32"
    back = read_gguf_vectors(spark, str(tmp_path / "gguf"))
    assert manifest["n_records"] > 0
    assert back.count() == manifest["n_records"]
    # quantized export via the --compression knob
    rc = main(
        [
            "export",
            "--sf-dir", "/root/testdata/sf0.001",
            "--table", "embeddings",
            "--out", str(tmp_path / "gguf_q8"),
            "--format", "gguf",
            "--compression", "q8_0",
        ]
    )
    assert rc == 0
    q8 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert q8["ggml_type"] == "Q8_0"
    # unhonored knobs are rejected, not silently ignored
    import pytest

    with pytest.raises(SystemExit, match="max-records"):
        main(["export", "--sf-dir", "/root/testdata/sf0.001",
              "--table", "embeddings", "--out", str(tmp_path / "x"),
              "--format", "gguf", "--max-records", "7"])
    with pytest.raises(SystemExit, match="compression"):
        main(["export", "--sf-dir", "/root/testdata/sf0.001",
              "--table", "embeddings", "--out", str(tmp_path / "x"),
              "--format", "gguf", "--compression", "zstd"])

    # cdx: build a ZipNum cluster from a capture parquet, then the
    # block-pruned prefix lookup over it
    caps = spark.createDataFrame(
        [(f"example,h{i % 3})/p{i:03d}", f"2024{i:010d}",
          _json.dumps({"url": f"https://h{i % 3}.example/p{i:03d}",
                       "status": 200, "digest": f"sha1:{i}",
                       "filename": "c.warc.gz", "offset": i, "length": 9}))
         for i in range(90)],
        "urlkey string, ts14 string, fields_json string")
    caps.write.mode("overwrite").parquet(str(tmp_path / "caps"))
    rc = main(["cdx", "--index-dir", str(tmp_path / "zn"),
               "--build", str(tmp_path / "caps"),
               "--lines-per-block", "10", "--shards", "2"])
    assert rc == 0
    built = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert built["rows"] == 90 and built["blocks"] >= 9
    rc = main(["cdx", "--index-dir", str(tmp_path / "zn"),
               "--prefix", "example,h1)/"])
    assert rc == 0
    looked = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert looked["n_captures"] == 30 and looked["n_urls"] == 30


def test_cli_tokenizer_load_gguf(tmp_path, capsys):
    import numpy as np

    from wc_vector_indexing_spark.cli import main
    from wc_vector_indexing_spark.sources.gguf import to_gguf_bytes

    vocab = [chr(c) for c in range(ord("a"), ord("z") + 1)] + ["th", "ing"]
    scores = [-4.0] * 26 + [-1.0, -1.5]
    p = tmp_path / "model.gguf"
    p.write_bytes(to_gguf_bytes(
        {"tokenizer.ggml.tokens": vocab,
         "tokenizer.ggml.scores": scores},
        [("e", np.zeros(32, dtype=np.float32), "F32")]))
    rc = main(["tokenizer", "--load-gguf", str(p),
               "--sample", "The thing is 42"])
    assert rc == 0
    out = capsys.readouterr().out.strip()
    # 'the' -> th+e, 'thing' -> th+ing, OOV digits -> <unk>
    assert out == "sample: th e th ing i s <unk> <unk>"


def test_cli_convert_checkpoint_formats(spark, tmp_path, capsys):
    import json as _json

    import numpy as np

    from wc_vector_indexing_spark.cli import main
    from wc_vector_indexing_spark.sources.gguf import read_gguf_vectors
    from wc_vector_indexing_spark.sources.safetensors import (
        write_safetensors_vectors,
    )

    df = spark.createDataFrame(
        [(i, [float(i) + j / 4 for j in range(32)]) for i in range(40)],
        "vec_id long, embedding array<float>")
    st = tmp_path / "st"
    write_safetensors_vectors(df.repartition(2), str(st)).collect()
    rc = main(["convert", "--in-dir", str(st),
               "--in-format", "safetensors",
               "--out-dir", str(tmp_path / "gg"),
               "--out-format", "gguf"])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_vectors"] == 40
    back = read_gguf_vectors(spark, str(tmp_path / "gg")).toPandas()
    for _, r in back.iterrows():
        i = r["vec_id"]
        assert np.allclose(r["embedding"],
                           [i + j / 4 for j in range(32)],
                           rtol=0, atol=1e-6)
    # quantized conversion stays within the Q8_0 step bound
    rc = main(["convert", "--in-dir", str(st),
               "--in-format", "safetensors",
               "--out-dir", str(tmp_path / "ggq"),
               "--out-format", "gguf", "--quantize", "q8_0"])
    assert rc == 0
    # quantize rejected for safetensors output
    import pytest

    with pytest.raises(SystemExit, match="quantize"):
        main(["convert", "--in-dir", str(tmp_path / "gg"),
              "--in-format", "gguf",
              "--out-dir", str(tmp_path / "st2"),
              "--out-format", "safetensors", "--quantize", "q8_0"])
