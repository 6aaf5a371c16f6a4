"""The command's contract: a wrong expected output fails the run, and
a directory without the engine sources is refused without a result;
the output checks reject wrong outputs."""

import json
import os
import shutil
import subprocess
import sys

import numpy as np

from perfbench import layers, run, workloads

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_wrong_expected_output_fails(monkeypatch, capsys):
    monkeypatch.chdir(REPO)
    monkeypatch.setattr(run, "ROOT", REPO)
    monkeypatch.setattr(workloads, "RAG_DOCS", 40)
    monkeypatch.setattr(workloads.RagAnnServe, "warmup_ops", 0)
    # the index side is checked by test_ann_check_rejects_wrong_outputs
    monkeypatch.setattr(workloads, "ann_setup", lambda ctx, mat: None)
    monkeypatch.setattr(workloads, "ann_round", lambda ctx, i: ())
    monkeypatch.setattr(workloads, "ann_check", lambda ctx: None)
    real = workloads.rag_expected

    def wrong(*args):
        detail, summary, n = real(*args)
        term = sorted(detail)[0]
        m, first, total = detail[term]
        return {**detail, term: (m + 1, first, total)}, summary, n

    monkeypatch.setattr(workloads, "rag_expected", wrong)
    rc = run.main(["--workload", "rag_ann_serve", "--seed", "3", "--seconds", "1",
                   "--trace", "0"])
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 1
    assert result["correct"] is False
    assert result["failed"] == result["attempted"] >= 1


def test_refuses_without_engine(tmp_path):
    shutil.copytree(os.path.join(REPO, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "rag_ann_serve",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert out.returncode == 2
    assert out.stdout == ""


def test_benchmark_json_matches_code():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == \
        layers.metric_units()
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)


def test_ann_check_rejects_wrong_outputs():
    rng = np.random.default_rng(0)
    k, nq = workloads.ANN_K, workloads.ANN_Q
    st = {"vectors": rng.standard_normal((50, 64)),
          "query_vecs": rng.standard_normal((nq, 64))}

    def rows():
        out = []
        for q in range(nq):
            ids = rng.choice(50, size=k, replace=False)
            v, qv = st["vectors"][ids], st["query_vecs"][q]
            sims = np.round(workloads.fold_dot(v, qv[None, :]) / (
                np.sqrt(workloads.fold_dot(qv, qv))
                * np.sqrt(workloads.fold_dot(v, v))), 9)
            out += [{"query_id": q, "vec_id": int(i), "rank": r + 1,
                     "sim": float(s)} for r, (i, s) in enumerate(zip(ids, sims))]
        return out

    good = rows()
    assert workloads.ann_check_query(st, 0, "exact", good, 50) is None
    off = [dict(r) for r in good]
    off[3]["sim"] += 1e-6
    assert "numpy cosine" in workloads.ann_check_query(st, 0, "exact", off, 50)
    short = [r for r in good if not (r["query_id"] == 2 and r["rank"] == k)]
    assert "ranks" in workloads.ann_check_query(st, 0, "adc_refine", short, 50)
    assert "unknown id" in workloads.ann_check_query(st, 0, "bq1_refine", good, 10)


def test_corpus_check_rejects_wrong_census():
    class Ctx:
        state = {"n_docs": 100}

    census = {"input_docs": 100, "scrub_docs_kept": 100,
              "quality_lang_kept": 98, "dedup_survivors": 95,
              "final_docs": 95, "packed_tokens": 0, "shard_tokens": 0}
    assert workloads.CorpusBuild.check(Ctx, census, "") == "nothing packed"
    for key, value in (("input_docs", 99), ("dedup_survivors", 98),
                       ("final_docs", 0), ("quality_lang_kept", 101)):
        bad = {**census, key: value}
        assert workloads.CorpusBuild.check(Ctx, bad, "").startswith(
            ("input_docs", "stage counts"))
