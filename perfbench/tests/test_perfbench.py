"""Tests for the benchmark's own parts (no Spark session needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import inputs  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
from digest import digest, duckdb_digest  # noqa: E402


# -- input generators ---------------------------------------------------


@pytest.mark.parametrize(
    "gen", [inputs.curation_corpus, inputs.documents, inputs.embeddings]
)
def test_generator_is_deterministic_per_seed(gen):
    assert gen(7, 300).equals(gen(7, 300))


@pytest.mark.parametrize(
    "gen", [inputs.curation_corpus, inputs.documents, inputs.embeddings]
)
def test_generator_changes_across_seeds(gen):
    a, b = gen(7, 300), gen(8, 300)
    assert a.schema == b.schema and a.num_rows == b.num_rows
    assert not a.equals(b)


def test_curation_corpus_classes():
    texts = inputs.curation_corpus(3, 300).column("text").to_pylist()
    # a near-dup trio differs only in its tail token
    assert texts[0].rsplit(" ", 1)[0] == texts[1].rsplit(" ", 1)[0]
    assert texts[0] != texts[1]
    assert texts[72] == texts[73] == texts[74]  # exact copies
    assert texts[85].startswith("der ")
    assert texts[95] == "zq zq zq zq zq zq"


def test_parquet_parts_keep_every_row(tmp_path):
    import pyarrow.parquet as pq

    t = inputs.curation_corpus(1, 101)
    inputs.write_parquet(t, str(tmp_path / "c"), n_files=8)
    assert len(os.listdir(tmp_path / "c")) == 8
    assert pq.read_table(str(tmp_path / "c")).sort_by("doc_id").equals(t)


# -- digests ------------------------------------------------------------


def test_digest_ignores_row_order_and_partitioning():
    rows = [(i, f"t{i % 7}", i / 3) for i in range(50)]
    cols = ["doc_id", "text", "score"]
    base = digest(cols, rows)
    shuffled = rows[:]
    random.Random(0).shuffle(shuffled)
    parts = [rows[i::4] for i in range(4)]  # four partitions, gathered
    assert digest(cols, shuffled) == base
    assert digest(cols, [r for p in reversed(parts) for r in p]) == base
    assert base["rows"] == 50


def test_digest_ignores_column_order_but_not_values():
    cols = ["b", "a"]
    rows = [(1, "x"), (2, "y")]
    assert digest(cols, rows) == digest(["a", "b"], [("x", 1), ("y", 2)])
    assert digest(cols, rows) != digest(cols, [(1, "x"), (2, "z")])
    assert digest(cols, rows) != digest(["b", "c"], rows)
    assert digest(["v"], [(0.0,)]) == digest(["v"], [(-0.0,)])
    assert digest(["v"], [(0.1,)]) != digest(["v"], [(0.1 + 1e-16,)])


def test_duckdb_digest_matches_python_rows():
    import duckdb

    con = duckdb.connect()
    got = duckdb_digest(
        con, "SELECT range AS id, CAST(range AS DOUBLE) / 4 AS v FROM range(5)"
    )
    assert got == digest(["v", "id"], [(i / 4, i) for i in range(5)])


# -- spans --------------------------------------------------------------


def test_union_length_merges_and_clips():
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2
    assert tracing.union_length([], 0, 1) == 0


def test_self_time_subtracts_covered_children():
    recs = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},  # overlaps 1
        {"id": 3, "parent": 2, "start": 3.5, "end": 4.0},
    ]
    st = tracing.self_times(recs)
    assert st == {0: 5.0, 1: 3.0, 2: 2.5, 3: 0.5}


def test_spans_set_and_restore_job_groups():
    seen = []
    sp = tracing.Spans("r")
    sp.set_group = seen.append
    with sp.span("pass", traced=True):
        with sp.span("call"):
            pass
    with sp.span("untraced", traced=False):
        with sp.span("inner"):
            pass
    assert seen == ["r/0", "r/1", "r/0", None]
    assert [r["group"] for r in sp.records] == ["r/0", "r/1", None, None]
    assert [r["parent"] for r in sp.records] == [None, 0, None, 2]


# -- counter attribution ------------------------------------------------


def _t(sec: float) -> str:
    from datetime import datetime, timezone

    return datetime.fromtimestamp(sec, timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S.%f"
    )[:-3] + "GMT"


def _job(jid, group, stage_ids, start, end, status="SUCCEEDED"):
    return {
        "jobId": jid, "jobGroup": group, "stageIds": stage_ids,
        "submissionTime": _t(start), "completionTime": _t(end),
        "status": status,
    }


def _stage(sid, status="COMPLETE", **kw):
    base = dict.fromkeys(
        ("numTasks", "numFailedTasks", "executorRunTime", "executorCpuTime",
         "jvmGcTime", "inputBytes", "inputRecords", "outputBytes",
         "shuffleWriteBytes", "shuffleReadBytes", "shuffleFetchWaitTime",
         "diskBytesSpilled"),
        0,
    )
    return base | {"stageId": sid, "status": status} | kw


T0 = 1_700_000_000.0
SPANS = [
    {"id": 0, "name": "pass.1", "parent": None, "group": "r/0",
     "start": T0, "end": T0 + 10},
    {"id": 1, "name": "operators.a", "parent": 0, "group": "r/1",
     "start": T0 + 1, "end": T0 + 5},
    {"id": 2, "name": "operators.b", "parent": 0, "group": "r/2",
     "start": T0 + 5, "end": T0 + 9},
]


def test_attribution_by_job_group():
    jobs = [
        _job(0, "r/1", [0, 1], T0 + 1.5, T0 + 2.5),
        _job(1, "r/1", [1, 2], T0 + 3, T0 + 4),  # stage 1 reused
        _job(2, "r/2", [3], T0 + 6, T0 + 8),
    ]
    stages = [
        _stage(0, numTasks=4, executorRunTime=2000, shuffleWriteBytes=100),
        _stage(1, numTasks=2, shuffleWriteBytes=300, inputBytes=7),
        _stage(1, status="SKIPPED"),
        _stage(2, numTasks=1, executorCpuTime=5 * 10**8),
        _stage(3, numTasks=8, numFailedTasks=1, outputBytes=50),
    ]
    sql = [{
        "successJobIds": [2], "failedJobIds": [], "runningJobIds": [],
        "nodes": [{"nodeName": "ArrowEvalPython", "metrics": [
            {"name": "time to run Python workers",
             "value": "total (min, med, max (stageId: taskId))\n1.5 s (0 ms, 1 ms, 2 ms (stage 3.0: task 1))"},
            {"name": "data sent to Python workers", "value": "2.0 KiB"},
            {"name": "number of output rows", "value": "1,234"},
        ]}, {"nodeName": "Project", "metrics": [
            {"name": "number of output rows", "value": "99"}]}],
    }]
    per, problems = tracing.attribute(SPANS, jobs, stages, sql)
    assert problems == []
    a, b = per[1], per[2]
    assert (a["jobs"], a["stages"], a["tasks"]) == (2, 3, 7)
    assert a["shuffle_write_bytes"] == 400
    assert a["max_stage_shuffle_write_bytes"] == 300
    assert a["executor_run_s"] == 2.0 and a["executor_cpu_s"] == 0.5
    assert a["input_bytes"] == 7
    assert a["driver_s"] == pytest.approx(4 - 2)
    assert (b["jobs"], b["tasks"], b["failed_tasks"]) == (1, 8, 1)
    assert b["bytes_written"] == 50
    assert b["python_run_s"] == 1.5 and b["python_bytes_sent"] == 2048
    assert b["python_rows"] == 1234
    assert b["driver_s"] == pytest.approx(2)
    assert per[0]["jobs"] == 0


def test_attribution_reports_unattributed_and_missing():
    jobs = [
        _job(0, None, [0], T0 + 1, T0 + 2),  # no group, not untraced
        _job(2, "r/1", [5], T0 + 2, T0 + 3),  # job 1 and stage 5 gone
    ]
    per, problems = tracing.attribute(SPANS, jobs, [_stage(0)], [])
    text = " | ".join(problems)
    assert "1 jobs missing" in text
    assert "stage 5 of job 2 missing" in text
    assert "job 0 (None) not attributed" in text
    per, problems = tracing.attribute(
        SPANS, [_job(0, None, [0], T0 + 1, T0 + 2)], [_stage(0)], [],
        untraced=[(T0, T0 + 1.5)],
    )
    assert problems == []


@pytest.mark.parametrize(
    "value,expected",
    [("10,000", 10000), ("224.0 B", 224), ("1.5 KiB", 1536), ("9 ms", 0.009),
     ("2.0 m", 120), ("total (min, med, max (stageId: taskId))\n3.1 MiB (1)",
                      3.1 * 2**20)],
)
def test_parse_metric(value, expected):
    assert tracing.parse_metric(value) == pytest.approx(expected)


def test_layer_metrics_sum_a_traced_pass():
    import tracing as tr

    zero = dict.fromkeys(tr.COUNTERS, 0)
    spans = [
        {"id": 0, "name": "session.get_session", "parent": None,
         "start": 0.0, "end": 6.0},
        {"id": 1, "name": "pass.1", "parent": None, "start": 10.0, "end": 20.0},
        {"id": 2, "name": "operators.s3_minhash_lsh_pairs", "parent": 1,
         "start": 10.0, "end": 14.0},
        {"id": 3, "name": "sources.s8_write_train_table", "parent": 1,
         "start": 14.0, "end": 19.0},
    ]
    counters = {
        "0": zero, "1": zero,
        "2": zero | {"jobs": 3, "driver_s": 1.0, "shuffle_write_bytes": 10,
                     "max_stage_shuffle_write_bytes": 7},
        "3": zero | {"jobs": 2, "driver_s": 0.5, "bytes_written": 99,
                     "max_stage_shuffle_write_bytes": 9},
    }
    rows = {"s2_exact_dedup": 30, "s3_minhash_lsh_pairs": 20,
            "s4b_cc_survivors": 10, "s8_write_train_table": 8}
    metrics, detail = run.layer_metrics({
        "spans": spans, "counters": counters, "traced_passes": [(1, rows)],
        "traced_walls": [10.0], "pass_walls": [9.0, 9.5],
    })
    assert metrics["session.start_s"] == 6.0
    assert metrics["operators.jobs"] == 5
    assert metrics["operators.driver_s"] == 1.5
    assert metrics["operators.max_stage_shuffle_write_bytes"] == 9
    assert metrics["sources.bytes_written"] == 99
    assert metrics["trace.overhead_s"] == pytest.approx(0.75)
    assert detail["sources.write_s"] == 5.0
    assert detail["sources.s8_write_train_table.rows_out"] == 8
    assert detail["operators.s3_minhash_lsh_pairs.jobs"] == 3
    assert detail["dedup.pair_yield"] == 1.0
    assert set(metrics) == set(run.PER_LAYER)


def test_cpu_ticks_reads_steal_and_total():
    import worker

    steal, total = worker.cpu_ticks()
    assert 0 <= steal <= total and total > 0


# -- declared metrics and the command's guard ---------------------------


def test_benchmark_json_declares_what_run_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    from workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_refuses_a_directory_without_the_engine(tmp_path, monkeypatch, capsys):
    monkeypatch.chdir(tmp_path)
    code = run.main(["--workload", "vector_search", "--seed", "1",
                     "--seconds", "1", "--trace", "0"])
    assert code != 0
    assert capsys.readouterr().out == ""


# -- the curation oracle's composition ----------------------------------


def test_curation_oracle_survivors_equal_clean_corpus_sql(tmp_path):
    import duckdb

    from big_data_computing__spark.operators.pipelines import clean_corpus_sql
    from workloads import CurationPipeline

    wl = CurationPipeline()
    wl.N_DOCS = 300
    wl.generate(5, str(tmp_path))
    want = wl.oracle(str(tmp_path))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{tmp_path}/documents.parquet/*.parquet')"
    )
    assert duckdb_digest(con, clean_corpus_sql()) == want["survivors"]
    assert 0 < want["survivors"]["rows"] < wl.N_DOCS
