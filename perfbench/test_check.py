"""The benchmark's own test: the correctness check passes on the
program's real output and trips on every kind of perturbed truth.

    python3 -m pytest perfbench/test_check.py -q      # about 1-2 minutes

It runs the program once per profile_files format and one
curate_corpus pass, then compares each output against the planted
truth and against copies of the truth with one fact changed.
"""

import copy
import os
import random
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    os.environ["TZ"] = "UTC"
    spark = run.make_session(str(tmp_path_factory.mktemp("session")))
    hooks = spans.Hooks()
    hooks.install(traced=False)
    yield spark, hooks
    hooks.uninstall()
    run.stop_session(spark)


@pytest.fixture(scope="module")
def profiles(session, tmp_path_factory):
    """(truth, row count, tree) of one request per file format."""
    from structa_spark.model import node_to_dict

    spark, hooks = session
    wl = workloads.ProfileFiles(spark, hooks, random.Random(5),
                                str(tmp_path_factory.mktemp("files")))
    out = {}
    for seq in range(len(gen.FILE_FORMATS)):
        inp = wl.prepare(seq)
        wl.request(inp)
        out[inp[1]] = (inp[-1], hooks.captured["analyzer.analyze"].row_count,
                       node_to_dict(hooks.captured["model.merge"]))
    return out


@pytest.fixture(scope="module")
def corpus_output(session, tmp_path_factory):
    """(truth, packs read back, files written, rows out per rung)."""
    spark, hooks = session
    wl = workloads.CurateCorpus(spark, hooks, random.Random(5),
                                str(tmp_path_factory.mktemp("corpus")))
    inp = wl.prepare(0)
    out = wl.request(inp)
    packs = {r.doc_id: (r.lang, r.n_tokens, r.pack_id)
             for r in spark.read.parquet(inp[2]).collect()}
    return inp[-1], packs, wl.written(inp)[0], wl.rows_out(out)


def perturbed_profiles(truth, fmt):
    """Copies of a profile truth, each with one planted fact changed."""
    def edit(fn):
        t = copy.deepcopy(truth)
        fn(t)
        return t

    p = "paths"
    yield "rows", edit(lambda t: t.update(rows=t["rows"] + 1))
    yield "type", edit(lambda t: t[p][("id",)].update(type="float"))
    yield "optional", edit(lambda t: t[p][("note",)].update(optional=False))
    yield "int min", edit(lambda t: t[p][("id",)].update(
        min=t[p][("id",)]["min"] - 1))
    yield "extra path", edit(lambda t: t[p].pop(("code",)))
    yield "missing path", edit(lambda t: t[p].update(
        {("nope",): {"type": "str", "optional": False}}))
    if fmt == "csv":
        yield "datetime max", edit(lambda t: t[p][("ts",)].update(
            max="2099-01-01 00:00:00"))
    else:
        yield "str-of-int max", edit(lambda t: t[p][("user", "age")].update(
            max=t[p][("user", "age")]["max"] + 1))
        yield "list element type", edit(
            lambda t: t[p][("tags", "[]")].update(type="int"))


@pytest.mark.parametrize("fmt", gen.FILE_FORMATS)
def test_profile_check_passes_on_truth(profiles, fmt):
    truth, rows, tree = profiles[fmt]
    assert check.check_profile(truth, rows, tree) == []


@pytest.mark.parametrize("fmt", gen.FILE_FORMATS)
def test_profile_check_trips_on_perturbed_truth(profiles, fmt):
    truth, rows, tree = profiles[fmt]
    for what, bad in perturbed_profiles(truth, fmt):
        assert check.check_profile(bad, rows, tree), what


def test_corpus_check_passes_on_truth(corpus_output):
    truth, packs, files, rows_out = corpus_output
    assert check.check_corpus(truth, packs, files, rows_out) == []


def test_corpus_check_trips_on_perturbed_truth(corpus_output):
    truth, packs, files, rows_out = corpus_output
    some = sorted(truth["packs"])[0]

    def edit(fn):
        t = copy.deepcopy(truth)
        fn(t)
        return t

    cases = {
        "dedup rows_out": edit(lambda t: t["rows_out"].update(
            dedup=t["rows_out"]["dedup"] - 1)),
        "screen rows_out": edit(lambda t: t["rows_out"].update(
            screen=t["rows_out"]["screen"] + 1)),
        "a survivor dropped": edit(lambda t: t["packs"].pop(some)),
        "a dropped doc kept": edit(lambda t: t["packs"].update(
            {-1: ("en", 10, 0)})),
        "pack id": edit(lambda t: t["packs"].update(
            {some: t["packs"][some][:2] + (t["packs"][some][2] + 1,)})),
        "files": edit(lambda t: t.update(files=t["files"] + 1)),
    }
    for what, bad in cases.items():
        assert check.check_corpus(bad, packs, files, rows_out), what


def test_planted_defects_are_present(corpus_output):
    """Each rung has something to remove, so a rung that stopped
    working would change the survivors."""
    truth = corpus_output[0]
    r = truth["rows_out"]
    assert workloads.CORPUS_DOCS > r["screen"] > r["dedup"] > r["decontam"]


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
