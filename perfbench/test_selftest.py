"""Self-tests of the benchmark.

    python3 -m pytest -q perfbench/test_selftest.py

* every workload runs end to end at smoke size, untraced and traced;
* every metric BENCHMARK.json names appears with its unit;
* a tampered output is caught by each workload's check;
* without the program files the command fails without a result.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from common import WORK, prepare_env, reset_dir  # noqa: E402
from layers import PER_LAYER  # noqa: E402
from run import END_TO_END  # noqa: E402
import workloads as W  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
NAMES = ["pdf_backfill", "crawl_resume", "webtext_ops"]


def _run(*args, cwd=ROOT):
    return subprocess.run([sys.executable, "perfbench/run.py", *args],
                          cwd=cwd, capture_output=True, text=True,
                          timeout=900)


def test_spec_matches_the_code():
    assert {w["name"] for w in SPEC["workloads"]} <= set(NAMES)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == PER_LAYER


@pytest.fixture(scope="module")
def smoke_all():
    p = _run("--workload", "all", "--seed", "3", "--seconds", "1", "--smoke")
    assert p.returncode == 0, p.stderr[-4000:]
    return p.stdout.splitlines()


def test_every_workload_runs_untraced(smoke_all):
    out = json.loads(smoke_all[-1])
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    for w in NAMES:
        for name, unit in END_TO_END.items():
            m = out["metrics"][f"{w}.{name}"]
            assert m["unit"] == unit and m["value"] > 0, (w, name)


def test_human_lines_name_every_end_to_end_metric(smoke_all):
    text = "\n".join(smoke_all[:-1])
    for w in NAMES:
        for name, unit in END_TO_END.items():
            assert f"{w} {name} = " in text and f" {unit} (n=" in text
        assert f"{w} failed_share = 0.0000 ratio (n=" in text
    assert "crawl_resume resume_s = " in text
    for key in ("seed=3", "confirm_seed=", "host_md5_200k_s=",
                "host_matmul_2k_s=", "settle_wait_s="):
        assert key in text


@pytest.mark.parametrize("workload", NAMES)
def test_traced_run_prints_every_per_layer_metric(workload):
    p = _run("--workload", workload, "--seed", "4", "--seconds", "1",
             "--smoke", "--trace", "1")
    assert p.returncode == 0, p.stderr[-4000:]
    out = json.loads(p.stdout.splitlines()[-1])
    assert out["correct"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == PER_LAYER
    assert " self_time action = " in p.stdout
    if workload == "pdf_backfill":
        assert "pdf_backfill scaling_eff = " in p.stdout
    traces = sorted((WORK / "traces").glob(f"{workload}-s4-*.jsonl"),
                    key=lambda f: f.stat().st_mtime)
    spans = [json.loads(line) for line in traces[-1].read_text().splitlines()]
    names = {s["name"] for s in spans}
    assert {"workload", "setup", "pass", "action", "stage", "task",
            "kernel.parse"} <= names
    assert all(s["end"] >= s["start"] and s["run_id"] for s in spans)


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("--workload", "pdf_backfill", "--seed", "1", "--seconds", "1",
             cwd=tmp_path)
    assert p.returncode != 0
    assert not p.stdout.strip()


# --- tampered outputs are caught (no Spark needed) --------------------------
@pytest.fixture()
def work():
    w = reset_dir(WORK / "selftest")
    prepare_env(w)
    yield w
    shutil.rmtree(w, ignore_errors=True)


def _process_all(rows):
    import __spark_entry__ as entry
    from edspdf_spark.operators.fused import process_doc

    return [o for r in rows for o in process_doc(r[0], r[2], entry.PIPE_CFG)]


def test_tampered_pdf_output_is_caught(work):
    wl = W.PdfBackfill(5, True, work, 2)
    wl.make_inputs()
    wl.output = [{"url": o[0], "label": o[1], "text": o[2], "error": o[4]}
                 for o in _process_all(wl.rows)]
    assert all(c.ok for c in wl.final_checks())
    victim = next(r for r in wl.output if r["text"])
    victim["text"] = victim["text"] + " "
    assert not any(c.ok for c in wl.final_checks())


def test_tampered_crawl_output_is_caught(work):
    wl = W.CrawlResume(5, True, work, 2)
    wl.make_inputs()
    out = work / "out"
    rows = _process_all(wl.rows)

    def write(rs):
        reset_dir(out / "data" / "bucket=0")
        (out / "_progress").mkdir(exist_ok=True)
        for b in range(W.N_BUCKETS):
            (out / "_progress" / f"{b}.json").write_text("{}")
        pq.write_table(pa.table({
            "url": [r[0] for r in rs], "label": [r[1] for r in rs],
            "text": [r[2] for r in rs], "error": [r[4] for r in rs]}),
            out / "data" / "bucket=0" / "part-0.parquet")
        return {c.name: c.ok for c in wl._check_output(out, 3)}

    assert all(write(rows).values())
    tampered = list(rows)
    i = next(k for k, r in enumerate(rows) if r[2])
    tampered[i] = rows[i][:2] + ("x" + rows[i][2],) + rows[i][3:]
    assert not write(tampered)["crawl_resume.fused_digest"]
    dup = write(rows + rows[:1])
    assert not dup["crawl_resume.url_label_once"]
    assert not dup["crawl_resume.fused_digest"]


def test_tampered_webtext_output_is_caught():
    import pandas as pd

    df = pd.DataFrame({"doc_id": [3, 1, 2], "score": [0.5, 0.25, 1.0]})
    shuffled = df.sample(frac=1, random_state=1)
    assert W.frame_digest(df) == W.frame_digest(shuffled)
    changed = df.copy()
    changed.loc[0, "score"] = 0.5000000000000001
    assert W.frame_digest(df) != W.frame_digest(changed)
    expected = json.loads(W.EXPECTED_DIGESTS.read_text())
    assert set(expected) == set(W.WEBTEXT_QUERIES)
