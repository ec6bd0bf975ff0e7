"""REPL front-door parity (`client.go:30-87`): every command class
the reference worker accepts — membership, SDFS, app submission —
dispatches and round-trips through the Spark-side subsystems."""

from __future__ import annotations

import os

import pytest

from stream_processing_system_spark.plans.repl import _VERSION_DELIM, CraneRepl


@pytest.fixture()
def repl(spark, tmp_path):
    return CraneRepl(spark, str(tmp_path / "store"))


def test_membership_commands(repl):
    # JOIN / LIST / SELF (client.go:42-58) report the live session.
    assert "parallelism=" in repl.dispatch("JOIN")
    assert "driver@" in repl.dispatch("LIST")
    assert repl.dispatch("SELF") == repl.spark.sparkContext.applicationId


def test_put_get_roundtrip_is_byte_faithful(repl, tmp_path):
    src = tmp_path / "in.txt"
    body = "alpha\nbeta gamma\n\ntrailing spaces   \n"
    src.write_text(body, encoding="utf-8")
    out = repl.dispatch(f"put {src} notes")
    assert "v1" in out
    dst = tmp_path / "out.txt"
    repl.dispatch(f"get notes {dst}")
    assert dst.read_text(encoding="utf-8") == body


def test_versions_ls_delete(repl, tmp_path):
    src = tmp_path / "in.txt"
    for i in range(3):
        src.write_text(f"rev {i}\n", encoding="utf-8")
        repl.dispatch(f"put {src} doc")
    assert repl.dispatch("ls doc") == "doc: versions [1, 2, 3]"
    # get-versions concatenates the last N newest-first, delimited
    # (daemon/daemon.go:614-675).
    dst = tmp_path / "multi.txt"
    repl.dispatch(f"get-versions doc 2 {dst}")
    text = dst.read_text(encoding="utf-8")
    assert text.count(_VERSION_DELIM) == 4  # 2 versions x 2 flanks
    assert text.index("rev 2") < text.index("rev 1")
    assert "rev 0" not in text
    assert repl.dispatch("store") == "doc"
    repl.dispatch("delete doc")
    assert repl.dispatch("ls doc") == "doc: not found"


def test_app_submission_writes_result_to_store(repl, tmp_path):
    # wordcount <n> (client.go:72-80): name-based submit, result lands
    # in the store the way Nimbus wrote job output into SDFS.
    data = tmp_path / "corpus.txt"
    data.write_text("to be or not to be\n", encoding="utf-8")
    repl.datasets["wordcount"] = str(data)
    out = repl.dispatch("wordcount 4")  # worker count accepted, ignored
    assert "wordcount_result v1" in out
    counts = {
        r["word"]: r["cnt"]
        for r in repl.store.get(repl.spark, "wordcount_result").collect()
    }
    assert counts == {"to": 2, "be": 2, "or": 1, "not": 1}


def test_bad_input_matches_reference_error_path(repl):
    # client.go:82 prints "Input does not match any commads!".
    with pytest.raises(ValueError, match="unknown command"):
        repl.dispatch("frobnicate 1")
    with pytest.raises(ValueError, match="takes 2 argument"):
        repl.dispatch("put onlyone")
    assert repl.dispatch("") == ""


def test_get_of_job_result_renders_tsv(repl, tmp_path):
    data = tmp_path / "corpus.txt"
    data.write_text("a a b\n", encoding="utf-8")
    repl.datasets["wordcount"] = str(data)
    repl.dispatch("wordcount 1")
    dst = tmp_path / "result.tsv"
    repl.dispatch(f"get wordcount_result {dst}")
    rows = {tuple(ln.split("\t")) for ln in dst.read_text().splitlines()}
    assert rows == {("a", "2"), ("b", "1")}


def test_get_of_wide_job_dataset_streams_all_partitions(repl, tmp_path):
    # the non-line fallback must render a jobs-written dataset of any
    # partition count via the streaming iterator (VERDICT r5 item 7:
    # no whole-frame collect on the driver), losing no rows.
    df = repl.spark.range(0, 1000, numPartitions=8).selectExpr(
        "id", "id * 2 AS dbl"
    )
    repl.store.put(df, "wide")
    dst = tmp_path / "wide.tsv"
    out = repl.dispatch(f"get wide {dst}")
    assert "(1000 lines)" in out
    rows = {tuple(ln.split("\t")) for ln in dst.read_text().splitlines()}
    assert len(rows) == 1000
    assert ("7", "14") in rows


def test_main_runs_on_the_engine_session(spark, monkeypatch, tmp_path, capsys):
    # main() takes its session from get_spark (UTC time zone, RocksDB
    # state store, heap floor), not from a builder of its own.
    import stream_processing_system_spark.plans.repl as repl_module

    calls = []

    def spy(**kwargs):
        calls.append(kwargs)
        return spark

    commands = iter(["LIST"])

    def fake_input(prompt=""):
        try:
            return next(commands)
        except StopIteration:
            raise EOFError from None

    monkeypatch.setattr(repl_module, "get_spark", spy)
    monkeypatch.setattr("builtins.input", fake_input)
    repl_module.main(store_root=str(tmp_path / "store"))
    assert calls == [{"app_name": "crane-repl"}]
    assert "members: driver@" in capsys.readouterr().out
