"""Tests of the benchmark itself: generator, helpers, checks and a tiny
smoke run of every workload.

    python3 -m pytest perfbench/tests -q
"""

import filecmp
import os
import random
from dataclasses import replace

import pyarrow.parquet as pq
import pytest

import checks
import gen
import spans
import workloads as wl


def _write(seed, out, docs=40):
    p = replace(gen.CorpusParams(), docs=docs, shards=4)
    gen.write_shards(gen.generate_docs(seed, p), os.path.join(out, "web"), p.shards)
    xml, _ = gen.generate_wiki(seed, replace(gen.WikiParams(), corpus=replace(p, docs=20)))
    with open(os.path.join(out, "wiki.xml"), "w", encoding="utf-8") as fh:
        fh.write(xml)


def test_generator_is_deterministic(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    _write(7, a)
    _write(7, b)
    _write(8, c)
    cmp = filecmp.dircmp(a, b)
    assert not cmp.diff_files and not cmp.left_only and not cmp.right_only
    assert not filecmp.dircmp(os.path.join(a, "web"), os.path.join(b, "web")).diff_files
    assert not filecmp.cmp(os.path.join(a, "wiki.xml"), os.path.join(c, "wiki.xml"), shallow=False)


def test_generator_honours_its_parameters():
    p = replace(gen.CorpusParams(), docs=400, exact_dup_frac=0.2, near_dup_frac=0.0,
                junk_frac=0.0, spam_frac=0.0, hot_para_share=0.5, sources=3)
    docs = gen.generate_docs(3, p)
    texts = [d["text"] for d in docs]
    dups = len(texts) - len(set(texts))
    assert 0.12 * 400 < dups < 0.28 * 400
    hot = sum(gen.HOT_PARAGRAPH in t for t in texts)
    assert hot > 0.25 * 400
    assert {d["source"] for d in docs} == {"src00", "src01", "src02"}
    assert [d["doc_id"] for d in docs] == list(range(1, 401))


def test_median():
    assert checks.median([3, 1, 2]) == 2
    assert checks.median([4, 1, 2, 3]) == 2.5
    assert checks.median([5.0]) == 5.0
    with pytest.raises(ValueError):
        checks.median([])


def test_digest_is_order_independent_and_row_sensitive():
    rows = [{"doc_id": i, "text": f"t{i}", "w": i / 3, "tokens": [i, i + 1]} for i in range(50)]
    d = checks.rows_digest(rows)
    shuffled = rows[:]
    random.Random(1).shuffle(shuffled)
    assert checks.rows_digest(shuffled) == d
    assert checks.rows_digest(rows[1:]) != d
    assert checks.rows_digest(rows + rows[:1]) != d
    changed = [dict(r) for r in rows]
    changed[3]["text"] = "other"
    assert checks.rows_digest(changed) != d


def test_event_log_parser(tmp_path):
    log = tmp_path / "app"
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "quality.battery"}},
        *[
            {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Stage Attempt ID": 0,
             "Task Info": {"Launch Time": 0, "Finish Time": t},
             "Task Metrics": {"Executor Run Time": t, "Memory Bytes Spilled": 5,
                              "Disk Bytes Spilled": 0,
                              "Shuffle Write Metrics": {"Shuffle Bytes Written": 1_000_000}}}
            for t in (100, 100, 400)
        ],
    ]
    log.write_text("\n".join(__import__("json").dumps(e) for e in events) + "\n")
    g = spans.parse_event_log(str(log))["quality.battery"]
    c = spans.span_counters("quality.battery", 1.5, g)
    assert c["quality.battery.tasks"] == 3
    assert c["quality.battery.exec_s"] == pytest.approx(0.6)
    assert c["quality.battery.shuffle_mb"] == pytest.approx(3.0)
    assert c["quality.battery.spill_mb"] == pytest.approx(15e-6)
    assert c["quality.battery.task_skew"] == pytest.approx(4.0)
    assert spans.span_counters("corpus.dsir", 0.0, None)["corpus.dsir.tasks"] == 0


@pytest.fixture
def tiny(monkeypatch):
    monkeypatch.setattr(wl, "WEB_PARAMS", replace(wl.WEB_PARAMS, docs=80, shards=4))
    monkeypatch.setattr(
        wl, "WIKI_PARAMS", replace(wl.WIKI_PARAMS, corpus=replace(wl.WIKI_PARAMS.corpus, docs=40))
    )


def _drop_one_row(parquet_dir):
    for f in sorted(os.listdir(parquet_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(parquet_dir, f)
            t = pq.read_table(path)
            if t.num_rows:
                pq.write_table(t.slice(1), path)
                return
    raise AssertionError("no rows to drop")


@pytest.mark.parametrize("name", ["wiki_reference", "web_curation"])
def test_batch_workload_smoke_and_corruption(spark, tmp_path, tiny, name):
    w = wl.WORKLOADS[name]
    inp = w.generate(5, str(tmp_path / "work"))
    out = str(tmp_path / "out")
    summary = w.run(spark, inp, out)
    errs, digest = w.check(inp, out, summary)
    assert errs == [], errs
    assert all(v.split(":")[1] != "0" for v in digest.values())
    _drop_one_row(os.path.join(out, "pipeline_output.parquet"))
    errs2, digest2 = w.check(inp, out, summary)
    assert errs2 and digest2 != digest


def test_stream_smoke(spark, tmp_path, tiny):
    inp = wl.WORKLOADS["web_curation"].generate(5, str(tmp_path / "work"))
    files = sorted(os.path.join(inp.paths["web"], f) for f in os.listdir(inp.paths["web"]))[:3]
    res = wl.run_stream(spark, files, str(tmp_path / "stream"), timeout_s=120)
    errs, acc = wl.stream_check(spark, res)
    assert errs == [], errs
    assert sorted(acc) == [0, 1, 2] and sum(len(r) for r in acc.values()) > 0
    counters = wl.stream_layer_counters(res)
    assert counters["streaming.trigger_ms_p50"] > 0 and counters["streaming.state_mb"] > 0
