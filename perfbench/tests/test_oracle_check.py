"""The output check fires: a run whose expected hash is wrong reports every
pass as failed. Starts a SparkSession (about 30 s)."""

import json
import tempfile

import run


def test_perturbed_expected_hash_fails_every_pass(monkeypatch, capsys):
    def wrong(queries, sf_dir):
        return {q: "0" * 64 for q in queries}

    monkeypatch.setattr(run, "expected_hashes", wrong)
    monkeypatch.setattr(run, "MIN_PASSES", 1)
    # run() points these at its own run directory
    monkeypatch.setenv("TMPDIR", tempfile.gettempdir())
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "1")
    monkeypatch.setattr(tempfile, "tempdir", None)
    assert run.main(["--workload", "ram_job", "--seed", "5", "--seconds", "1"]) == 0
    record, result = (json.loads(x) for x in capsys.readouterr().out.splitlines()[-2:])
    assert result["correct"] is False
    assert result["attempted"] == 2
    assert result["failed"] == result["attempted"]
    assert record["fail_ratio"] == 1.0
    assert "differs from the oracle" in record["passes"][0]["error"]
    assert set(result["metrics"]) == set(run.END_TO_END)
