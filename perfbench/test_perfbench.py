"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke tests run every workload once per trace mode (about a minute
each); the rest are fast.
"""

from __future__ import annotations

import json
import subprocess
import sys
import threading
from pathlib import Path

import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import data, oracle, run  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def _result(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_prints_every_metric_with_its_unit(workload, trace):
    proc = subprocess.run(
        [*BENCH["command"], "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = _result(proc.stdout)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    wanted = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    if not trace:
        for m in wanted:  # the human-readable lines name each metric and its unit
            assert any(
                line.startswith(f"# {m['name']} = ") and line.split()[4] == m["unit"]
                for line in proc.stdout.splitlines()
            ), m["name"]
        assert "# error_rate = 0.0000 ratio" in proc.stdout


def test_tampered_sink_row_raises_error_rate(monkeypatch, capsys):
    real = oracle.Oracle.ingest_mismatches
    lock, tampered = threading.Lock(), []

    def tamper_then_check(self, etl_sql, src_dir, sink_dir, rows_per_file):
        with lock:  # the checks run on several threads; tamper once
            if not tampered:
                path = next(p for p in sorted(Path(sink_dir).glob("*.parquet"))
                            if pq.read_metadata(p).num_rows)
                table = pq.read_table(path)
                texts = table.column("cleaned_text").to_pylist()
                texts[0] = texts[0] + " tampered"
                idx = table.schema.get_field_index("cleaned_text")
                pq.write_table(table.set_column(idx, "cleaned_text", [texts]), path)
                tampered.append(path)
        return real(self, etl_sql, src_dir, sink_dir, rows_per_file)

    monkeypatch.setattr(oracle.Oracle, "ingest_mismatches", tamper_then_check)
    assert run.main(["--workload", "backend", "--seed", "3", "--seconds", "1", "--trace", "0"]) == 0
    out = capsys.readouterr().out
    result = _result(out)
    assert result["failed"] >= 1 and not result["correct"]
    rate = next(line for line in out.splitlines() if line.startswith("# error_rate = "))
    assert float(rate.split()[3]) > 0


def test_tables_and_ingest_files_follow_the_seed(tmp_path):
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        data.make_tables(str(tmp_path / name), seed, sf=0.001)
    docs = {n: pq.read_table(tmp_path / n / "documents.parquet") for n in "abc"}
    assert docs["a"].equals(docs["b"]) and not docs["a"].equals(docs["c"])

    first, again = data.IngestStream(5, rows=200), data.IngestStream(5, rows=200)
    batches = [first.batch(k) for k in range(3)]
    assert all(b.equals(again.batch(k)) for k, b in enumerate(batches))
    fresh = set(range(200, 400))
    ids = batches[1].column("doc_id").to_pylist()
    replays = [i for i in ids if i not in fresh]
    assert replays and set(replays) <= set(range(200)) and len(ids) == 200 + len(replays)


def test_ingest_check_flags_only_the_tampered_file(tmp_path):
    src, sink = tmp_path / "src", tmp_path / "sink"
    src.mkdir()
    sink.mkdir()
    stream = data.IngestStream(1, rows=300)
    for k in range(3):
        pq.write_table(stream.batch(k), src / f"part-{k}.parquet")
    from reddit_can_bigdata_spark.registry import REGISTRY, all_queries

    all_queries()
    etl = REGISTRY["streaming_etl_sink"].oracle
    check = oracle.Oracle(str(tmp_path / "tables"))
    landed = f"(SELECT DISTINCT doc_id, text FROM read_parquet('{src}/*.parquet'))"
    check.con.execute(
        f"COPY ({etl.replace('FROM documents', 'FROM ' + landed)}) TO '{sink}/s.parquet'"
    )
    assert check.ingest_mismatches(etl, str(src), str(sink), 300) == set()
    table = pq.read_table(sink / "s.parquet")
    ids = table.column("doc_id").to_pylist()
    row = ids.index(next(i for i in ids if 300 <= i < 600))
    keep = [i != row for i in range(len(ids))]
    pq.write_table(table.filter(keep), sink / "s.parquet")
    assert check.ingest_mismatches(etl, str(src), str(sink), 300) == {1}


def test_tail_needs_ten_samples_beyond_it():
    assert run._tail([1.0] * 10).startswith("n/a")
    assert run._tail([float(i) for i in range(20)]) == "9.0000 s at p50.0 (n=20)"


def test_normalize_ignores_row_and_column_order():
    a = oracle.normalize(["x", "y"], [(1, 0.1 + 0.2), (2, "b")])
    b = oracle.normalize(["y", "x"], [("b", 2), (0.3, 1)])
    assert a == b
