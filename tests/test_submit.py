"""``scripts/submit.py`` only launches: each job script owns its flags,
which the launcher forwards unchanged and in order, and the printed
command carries the one session profile as ``--conf`` pairs."""

from __future__ import annotations

import importlib.util
import pathlib
import re
import shlex
import sys

import pytest

from ocr_parallel_spark.config import SESSION_CONFS

SCRIPTS = pathlib.Path(__file__).resolve().parent.parent / "scripts"


def _load(name):
    spec = importlib.util.spec_from_file_location(name, SCRIPTS / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


submit = _load("submit")


def _script(job) -> str:
    return str(SCRIPTS / f"job_{job.replace('-', '_')}.py")


def _submit(argv, tmp_path, monkeypatch, capsys) -> list[str]:
    """The words of the command ``submit.py`` prints for ``argv``."""
    monkeypatch.setattr(
        sys, "argv", ["submit.py", "--zip", str(tmp_path / "pkg.zip"), *argv]
    )
    submit.main()
    return shlex.split(capsys.readouterr().out)


@pytest.mark.parametrize(
    "job, job_args",
    [
        ("extract", ["--input", "in", "--no-near-dups", "--output", "out",
                     "--input-format", "warc"]),
        ("full-process", ["--input", "in", "--targets", "t.csv",
                          "--chunk-size", "8", "--overlap", "2",
                          "--start-marker", "STREAM WINDOW",
                          "--start-marker", "LINE SORT",
                          "--name-col", "name", "--output", "out"]),
        ("index", ["--kind", "lsh", "--dim", "32", "--planes", "4",
                   "--tables", "4", "--rebuild", "--input", "emb",
                   "--output", "idx"]),
        ("train-quality", ["--input", "labeled", "--output", "w",
                           "--eval-holdout", "3", "--min-milli", "5"]),
        ("pack", ["--from-verdicts", "v", "--verdicts-since", "3",
                  "--output", "packs", "--shards", "4",
                  "--shards-output", "shards"]),
        ("curate", ["--input", "docs", "--output", "v", "--near-dup",
                    "--sem-threshold", "0.8", "--lm-drop-tail"]),
    ],
)
def test_job_flags_follow_the_script_unchanged(
    job, job_args, tmp_path, monkeypatch, capsys
):
    # launcher flags mixed in among the job's own
    argv = job_args[:2] + ["--job", job, "--master", "local[2]"] + job_args[2:]
    words = _submit(argv, tmp_path, monkeypatch, capsys)
    assert words[:3] == ["spark-submit", "--master", "local[2]"]
    assert words[words.index(_script(job)) + 1:] == job_args


def test_prints_the_session_profile(tmp_path, monkeypatch, capsys):
    words = _submit(["--input", "in", "--output", "out"], tmp_path,
                    monkeypatch, capsys)
    confs = [words[i + 1] for i, w in enumerate(words) if w == "--conf"]
    assert confs == [f"{k}={v}" for k, v in SESSION_CONFS]
    assert words[-5:] == [_script("extract"), "--input", "in", "--output", "out"]


@pytest.mark.parametrize("job", submit.JOBS)
def test_every_job_flag_passes_through(job, tmp_path, monkeypatch, capsys):
    """No job flag is shadowed by a launcher option: every flag in the
    job parser's usage line reaches the script."""
    monkeypatch.setattr(sys, "argv", [f"job_{job}.py", "--help"])
    with pytest.raises(SystemExit):
        _load(pathlib.Path(_script(job)).stem).main()
    usage = capsys.readouterr().out.split("\n\n")[0]
    flags = list(dict.fromkeys(re.findall(r"--[a-z][a-z0-9-]*", usage)))
    assert "--output" in flags
    words = _submit(["--job", job, *flags], tmp_path, monkeypatch, capsys)
    assert words[words.index(_script(job)) + 1:] == flags
