"""The three workloads. Each is a closed loop: one client sends its
next request only after the previous one completed, into one
long-lived session.

A workload makes one request's input (:meth:`prepare`, untimed), sends
the request (:meth:`request`, timed) and checks the output against the
planted truth (:meth:`verify`, untimed). Every request gets a distinct
input made from the run seed and its sequence number, so no cache of
Spark's or of the program can serve a previous request's plan.
"""

from __future__ import annotations

import glob
import os
import shutil

import check
import gen

#: records per profile_files file, by format. YAML files are smaller:
#: the YAML reader builds its DataFrame from an RDD, so the analyzer's
#: size-gated input cache does not apply and every analyzer job parses
#: the file again in a Python worker. A 2,000-record YAML file took
#: 18-21 s per request, five to ten times the other formats.
FILE_RECORDS = {"ndjson": 2000, "json": 2000, "csv": 2000, "yaml": 250}
#: records per warm-up file (see ProfileFiles.warmup)
WARMUP_RECORDS = 100
BULK_RECORDS = 100_000
CORPUS_DOCS = 2_000
RUNGS = ("screen", "dedup", "decontam", "pack")


class ProfileFiles:
    """``get_structure`` over a stream of small nested files whose
    format cycles through NDJSON, JSON array, CSV and YAML."""

    name = "profile_files"
    cycle = len(gen.FILE_FORMATS)      # warm requests per round of formats
    #: unmeasured requests after the cold one, on small files: the first
    #: request of each format runs 20-40% slower than later ones, by an
    #: amount that varies from run to run, so JSON, CSV and YAML each
    #: get one before measuring starts (the cold request was NDJSON)
    warmup = len(gen.FILE_FORMATS) - 1
    rounds = 1                         # fewest measured rounds in a run

    def __init__(self, spark, hooks, rng, workdir):
        self.spark, self.hooks, self.rng, self.workdir = (
            spark, hooks, rng, workdir)

    def prepare(self, seq, small=False):
        fmt = gen.FILE_FORMATS[seq % len(gen.FILE_FORMATS)]
        return gen.event_file(self.rng, self.workdir, seq,
                              WARMUP_RECORDS if small else FILE_RECORDS[fmt])

    def request(self, inp):
        from structa_spark.ui.cli import get_config, get_structure

        argv = [inp[0]]
        if inp[1] == "csv":
            # the dialect sniffer counts the cut-off last line of its
            # 8 KB sample, so on some files the two ':' of every
            # HH:MM:SS beat the seven ','; a user who meets that names
            # the delimiter
            argv += ["--csv-delimiter", ","]
        return get_structure(get_config(argv), spark=self.spark)

    def records(self, inp) -> int:
        return inp[-1]["rows"]

    def verify(self, inp, out, rows_out=None) -> list:
        from structa_spark.model import node_to_dict

        if not isinstance(out, str) or not out.strip():
            return ["empty rendering"]
        profile = self.hooks.captured["analyzer.analyze"]
        root = self.hooks.captured["model.merge"]
        bad = check.check_profile(inp[-1], profile.row_count,
                                  node_to_dict(root))
        os.unlink(inp[0])
        return bad

    def rows_out(self, out) -> dict:
        return {}

    def written(self, inp) -> tuple:
        return 0, 0


class ProfileBulk(ProfileFiles):
    """The same CLI path over one large nested NDJSON per request."""

    name = "profile_bulk"
    cycle = 1
    warmup = 0
    rounds = 2

    def prepare(self, seq, small=False):
        path, truth = gen.bulk_file(self.rng, self.workdir, seq,
                                    BULK_RECORDS)
        return path, "ndjson", truth


class CurateCorpus:
    """The PIPELINE.md ladder: gopher screen -> dedup_corpus ->
    contamination_hits -> pack_sequences -> write_sized."""

    name = "curate_corpus"
    cycle = 1
    warmup = 0
    rounds = 2
    SCHEMA = "doc_id long, lang string, text string"

    def __init__(self, spark, hooks, rng, workdir):
        self.spark, self.hooks, self.rng, self.workdir = (
            spark, hooks, rng, workdir)

    def prepare(self, seq, small=False):
        path, evals, truth = gen.corpus(self.rng, self.workdir, seq,
                                        CORPUS_DOCS)
        return path, evals, os.path.join(self.workdir, "out-%05d" % seq), \
            truth

    def request(self, inp):
        from pyspark.sql import functions as F

        from structa_spark.operators import dedup, text
        from structa_spark.sources import sinks

        path, evals, out, _ = inp
        docs = self.spark.read.schema(self.SCHEMA).json(path)
        flags = text.gopher_quality_flags(docs)
        clean = docs.join(flags.where(F.col("gopher_quality_keep"))
                          .select("doc_id"), "doc_id", "left_semi")
        kept = dedup.dedup_corpus(clean)
        eval_df = self.spark.createDataFrame([(t,) for t in evals],
                                             "text string")
        hits = text.contamination_hits(kept, eval_df, k=gen.DECONTAM_K)
        train = kept.join(hits.select("doc_id"), "doc_id", "left_anti")
        packed = text.pack_sequences(train, budget=gen.PACK_BUDGET)
        sinks.write_sized(packed, out, partition_by=("lang",),
                          salt_col="doc_id")
        return {"screen": clean, "dedup": kept, "decontam": train,
                "pack": packed}

    def records(self, inp) -> int:
        return CORPUS_DOCS

    def written(self, inp) -> tuple:
        """(data files, bytes) under the sink's output directory."""
        files = glob.glob(os.path.join(inp[2], "*", "*.parquet"))
        return len(files), sum(os.path.getsize(f) for f in files)

    def rows_out(self, out) -> dict:
        """Row count of each rung's output; runs extra Spark jobs, so
        it is only called outside timed requests."""
        return {rung: out[rung].count() for rung in RUNGS}

    def verify(self, inp, out, rows_out=None) -> list:
        _, _, path, truth = inp
        packs = {r.doc_id: (r.lang, r.n_tokens, r.pack_id)
                 for r in self.spark.read.parquet(path).collect()}
        bad = check.check_corpus(truth, packs, self.written(inp)[0],
                                 rows_out)
        shutil.rmtree(path)
        os.unlink(inp[0])
        return bad


WORKLOADS = {w.name: w for w in (ProfileFiles, ProfileBulk, CurateCorpus)}
