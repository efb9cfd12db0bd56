"""Seeded input generators with planted truth.

Every generator takes a ``random.Random`` (seeded from the run seed)
and returns what it wrote together with the truth it planted. The
truth is computed here, from the generated values, and never from the
program under test, so ``check.py`` can compare the program's output
against it.

Profile truth is a dict ``path -> spec``. A path is a tuple of keys in
which ``"[]"`` stands for "each element of a list". A spec holds the
expected type class (``int``, ``float``, ``bool``, ``str``,
``datetime``, ``str_of_int``, ``str_of_datetime``, ``list``,
``record`` or ``table``), whether the field is optional and, for int
and datetime leaves, the exact min and max.
"""

from __future__ import annotations

import csv
import datetime as dt
import json
import os
import string

import numpy as np
import yaml

#: every profile_files request cycles through these, in this order
FILE_FORMATS = ("ndjson", "json", "csv", "yaml")

TS_FORMAT = "%Y-%m-%d %H:%M:%S"
_TS_BASE = dt.datetime(2019, 1, 1)
_CODE_LETTERS = "GHJKLMNPQRSTUVWXYZ"     # no hex digits, no vowels
_TAGS = ("red", "green", "blue", "amber", "violet", "teal")


def _ts(rng) -> str:
    return (_TS_BASE + dt.timedelta(seconds=rng.randrange(10 ** 8))
            ).strftime(TS_FORMAT)


def _code(rng) -> str:
    # fixed width 9, never numeric, never a date: "QX-4821-K"
    return "%s%s-%04d-%s" % (rng.choice(_CODE_LETTERS),
                             rng.choice(_CODE_LETTERS),
                             rng.randrange(10000),
                             rng.choice(_CODE_LETTERS))


def _word(rng, lo=4, hi=10) -> str:
    return "".join(rng.choice(string.ascii_lowercase)
                   for _ in range(rng.randint(lo, hi)))


# --------------------------------------------------------------------
# profile_files: small nested files in four formats


def event_records(rng, n: int, id_base: int) -> list:
    """``n`` nested event records. Ids are ``id_base + i``; ``note`` is
    optional (about 30% present); ``user.age`` is a string-encoded
    int and ``ts`` a string-encoded datetime."""
    out = []
    for i in range(n):
        r = {
            "id": id_base + i,
            "ts": _ts(rng),
            "code": _code(rng),
            "user": {
                "name": _word(rng),
                "age": str(rng.randint(18, 90)),
                "score": round(rng.uniform(0.0, 100.0), 3),
                "active": rng.random() < 0.5,
            },
            "tags": [rng.choice(_TAGS) for _ in range(rng.randint(0, 4))],
            "items": [{"sku": rng.randrange(1, 50000),
                       "qty": rng.randint(1, 12)}
                      for _ in range(rng.randint(1, 3))],
        }
        if rng.random() < 0.3:
            r["note"] = _word(rng, 3, 24)
        out.append(r)
    # whatever the seed: both bool values occur, and ``note`` is both
    # absent and present, so it is optional
    out[0]["user"]["active"], out[-1]["user"]["active"] = True, False
    out[0].pop("note", None)
    out[-1]["note"] = "present"
    return out


def _range(vals):
    # also right for TS_FORMAT strings: fixed width, so they sort by time
    return {"min": min(vals), "max": max(vals)}


def _leaf(kind, optional=False, **bounds):
    return {"type": kind, "optional": optional, **bounds}


def event_truth(recs: list, fmt: str) -> dict:
    """The planted truth of :func:`event_records` as the given file
    format carries it. JSON, NDJSON and YAML keep the nesting and the
    string encodings. CSV is flat and untyped, and the CSV reader
    infers column types, so there ``age`` is an int and ``ts`` a
    datetime."""
    ids = [r["id"] for r in recs]
    tss = [r["ts"] for r in recs]
    ages = [int(r["user"]["age"]) for r in recs]
    skus = [it["sku"] for r in recs for it in r["items"]]
    qtys = [it["qty"] for r in recs for it in r["items"]]
    if fmt == "csv":
        t = {
            (): _leaf("record"),
            ("id",): _leaf("int", **_range(ids)),
            ("ts",): _leaf("datetime", **_range(tss)),
            ("code",): _leaf("str"),
            ("name",): _leaf("str"),
            ("age",): _leaf("int", **_range(ages)),
            ("score",): _leaf("float"),
            ("active",): _leaf("bool"),
            ("note",): _leaf("str", optional=True),
        }
    else:
        t = {
            (): _leaf("record"),
            ("id",): _leaf("int", **_range(ids)),
            ("ts",): _leaf("str_of_datetime", **_range(tss)),
            ("code",): _leaf("str"),
            ("user",): _leaf("record"),
            ("user", "name"): _leaf("str"),
            ("user", "age"): _leaf("str_of_int", **_range(ages)),
            ("user", "score"): _leaf("float"),
            ("user", "active"): _leaf("bool"),
            ("tags",): _leaf("list"),
            ("tags", "[]"): _leaf("str"),
            ("items",): _leaf("list"),
            ("items", "[]"): _leaf("record"),
            ("items", "[]", "sku"): _leaf("int", **_range(skus)),
            ("items", "[]", "qty"): _leaf("int", **_range(qtys)),
            ("note",): _leaf("str", optional=True),
        }
    return {"rows": len(recs), "paths": t}


def write_events(recs: list, fmt: str, path: str) -> None:
    if fmt == "ndjson":
        with open(path, "w") as f:
            for r in recs:
                f.write(json.dumps(r))
                f.write("\n")
    elif fmt == "json":
        with open(path, "w") as f:
            json.dump(recs, f, indent=1)
    elif fmt == "yaml":
        with open(path, "w") as f:
            yaml.dump(recs, f, Dumper=yaml.CSafeDumper,
                      default_flow_style=False, sort_keys=False)
    elif fmt == "csv":
        with open(path, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(["id", "ts", "code", "name", "age", "score",
                        "active", "note"])
            for r in recs:
                u = r["user"]
                w.writerow([r["id"], r["ts"], r["code"], u["name"],
                            u["age"], u["score"],
                            "true" if u["active"] else "false",
                            r.get("note", "")])
    else:
        raise ValueError(fmt)


def event_file(rng, workdir: str, seq: int, n: int) -> tuple:
    """Write request ``seq``'s file; the format cycles through
    :data:`FILE_FORMATS`. Returns ``(path, fmt, truth)``."""
    fmt = FILE_FORMATS[seq % len(FILE_FORMATS)]
    recs = event_records(rng, n, id_base=seq * n)
    path = os.path.join(workdir, "events-%05d.%s" % (seq, fmt))
    write_events(recs, fmt, path)
    return path, fmt, event_truth(recs, fmt)


# --------------------------------------------------------------------
# profile_bulk: one large nested NDJSON per request

#: distinct keys of the map-like ``counters`` object; above the CLI's
#: default ``--field-threshold`` of 20, so it profiles as a table
N_COUNTER_KEYS = 40
_COUNTRIES = ("NZ", "PE", "SE", "TW", "UY", "VN", "ZM", "KE")


def bulk_file(rng, workdir: str, seq: int, n: int) -> tuple:
    """Write one NDJSON of ``n`` nested records. Every record has a
    unique ``id`` and ``session`` key, a ``counters`` object holding
    3-8 of :data:`N_COUNTER_KEYS` keys, a list of 1-4 event records
    and an optional ``ref``. Returns ``(path, truth)``.

    Vectorised with NumPy (seeded from ``rng``) so that writing 10^5
    records stays well under the time a request takes."""
    g = np.random.default_rng(rng.getrandbits(63))
    path = os.path.join(workdir, "bulk-%05d.ndjson" % seq)
    ids = np.arange(seq * n, seq * n + n)
    secs = g.integers(0, 10 ** 8, n)
    ts = np.char.replace(np.datetime_as_string(
        np.datetime64(_TS_BASE, "s") + secs.astype("timedelta64[s]"),
        unit="s"), "T", " ")
    sess = g.integers(0, len(_CODE_LETTERS), (n, 10))
    lat, lon = g.uniform(-90, 90, n), g.uniform(-180, 180, n)
    country = g.integers(0, len(_COUNTRIES), n)
    # distinct keys per record: start + j * stride, stride coprime
    # with N_COUNTER_KEYS (40 = 2^3 * 5)
    n_ctr = g.integers(3, 9, n)
    start = g.integers(0, N_COUNTER_KEYS, n)
    stride = g.choice([s for s in range(1, 60)
                       if s % 2 and s % 5], n)
    cvals = g.integers(0, 100000, (n, 8))
    n_ev = g.integers(1, 5, n)
    kinds = g.integers(0, len(_TAGS), (n, 4))
    durs = g.integers(1, 10 ** 6, (n, 4))
    has_ref = g.random(n) < 0.4
    has_ref[-1], has_ref[0] = True, False
    refs = g.integers(0, 26, (n, 8))
    letters = np.array(list(_CODE_LETTERS))
    lower = np.array(list(string.ascii_lowercase))
    # rows of one-letter cells viewed as one fixed-width string each
    sess_s = letters[sess].view("<U10").ravel().tolist()
    ref_s = lower[refs].view("<U8").ravel().tolist()
    # plain Python scalars format several times faster than NumPy ones
    cv, ds, kd = cvals.tolist(), durs.tolist(), kinds.tolist()
    rows = zip(ids.tolist(), ts.tolist(), lat.tolist(), lon.tolist(),
               country.tolist(), n_ctr.tolist(), start.tolist(),
               stride.tolist(), n_ev.tolist(), has_ref.tolist())
    with open(path, "w") as f:
        for i, (id_, t, la, lo, c, k, s, d, ne, hr) in enumerate(rows):
            counters = ",".join('"k%03d":%d' % ((s + j * d) % N_COUNTER_KEYS,
                                                cv[i][j]) for j in range(k))
            events = ",".join('{"kind":"%s","dur":%d}'
                              % (_TAGS[kd[i][j]], ds[i][j])
                              for j in range(ne))
            ref = ',"ref":"%s"' % ref_s[i] if hr else ""
            f.write('{"id":%d,"session":"S%s","ts":"%s","geo":{"lat":%.5f,'
                    '"lon":%.5f,"country":"%s"},"counters":{%s},'
                    '"events":[%s]%s}\n'
                    % (id_, sess_s[i], t, la, lo, _COUNTRIES[c], counters,
                       events, ref))
    used = np.arange(8)[None, :] < n_ctr[:, None]
    ev_used = np.arange(4)[None, :] < n_ev[:, None]
    truth = {"rows": n, "paths": {
        (): _leaf("record"),
        ("id",): _leaf("int", min=int(ids[0]), max=int(ids[-1])),
        ("session",): _leaf("str"),
        ("ts",): _leaf("str_of_datetime", min=str(ts[secs.argmin()]),
                       max=str(ts[secs.argmax()])),
        ("geo",): _leaf("record"),
        ("geo", "lat"): _leaf("float"),
        ("geo", "lon"): _leaf("float"),
        ("geo", "country"): _leaf("str"),
        ("counters",): _leaf("table"),
        ("counters", "{k}"): _leaf("str"),
        ("counters", "{v}"): _leaf("int", min=int(cvals[used].min()),
                                   max=int(cvals[used].max())),
        ("events",): _leaf("list"),
        ("events", "[]"): _leaf("record"),
        ("events", "[]", "kind"): _leaf("str"),
        ("events", "[]", "dur"): _leaf("int", min=int(durs[ev_used].min()),
                                       max=int(durs[ev_used].max())),
        ("ref",): _leaf("str", optional=True),
    }}
    return path, truth


# --------------------------------------------------------------------
# curate_corpus: a document corpus with planted defects

#: the ladder's gates, shared by the workload and the truth below
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
MIN_WORDS = 50              # gopher_quality_flags' default floor
DECONTAM_K = 8              # eval-overlap shingle width
PACK_BUDGET = 512           # tokens per packed sequence
LANGS = ("en", "de", "fr", "es")


def _vocab(g, n: int, letters: str, prefix: str = "") -> list:
    """``n`` distinct words of 3-8 letters drawn from ``letters``,
    never a gopher stopword."""
    alphabet = np.array(list(letters))
    out = set()
    while len(out) < n:
        ln = int(g.integers(3, 9))
        w = prefix + "".join(alphabet[g.integers(0, len(alphabet), ln)])
        if w not in GOPHER_STOPWORDS:
            out.add(w)
    return sorted(out)


def corpus(rng, workdir: str, seq: int, n_docs: int) -> tuple:
    """Write a corpus of ``n_docs`` documents (NDJSON of ``doc_id``,
    ``lang``, ``text``) and return ``(path, eval_texts, truth)``.

    Planted, by document share:

    * 10% low quality, each failing one gopher rule for certain: under
      :data:`MIN_WORDS` words, ``#``-heavy, no stopword, or mostly
      numeric tokens;
    * near-duplicate families of 2-4 documents (about 15% of the
      corpus) that differ only in letter case and whitespace, so their
      normalised shingle sets are identical and every family must
      collapse to its smallest ``doc_id``;
    * 3% of documents carrying a run of 12 consecutive words of one
      eval text. Eval texts use a vocabulary (``zq`` prefix) that no
      other document touches, so exactly these documents overlap the
      eval set at :data:`DECONTAM_K`-word shingles.

    Every other document is 60-160 words of the corpus vocabulary
    mixed with at least three distinct stopwords, so it passes every
    gopher rule and shares no near-duplicate with any other."""
    g = np.random.default_rng(rng.getrandbits(63))
    vocab = np.array(_vocab(g, 4000, "abcdefghiklmnoprstu"))
    eval_vocab = np.array(_vocab(g, 600, "abcdefghiklmnoprstu", "zq"))
    stop = np.array(GOPHER_STOPWORDS)

    def good_words(n):
        w = vocab[g.integers(0, len(vocab), n)]
        pos = g.choice(n, size=n // 4, replace=False)
        w[pos] = stop[g.integers(0, len(stop), len(pos))]
        w[:3] = stop[g.choice(len(stop), 3, replace=False)]
        return w.tolist()

    evals = [" ".join(eval_vocab[g.integers(0, len(eval_vocab),
                                            int(g.integers(40, 80)))])
             for _ in range(30)]
    n_low = n_docs // 10
    n_contam = n_docs * 3 // 100
    texts, kind = [], []
    for i in range(n_low):
        flaw = i % 4
        if flaw == 0:                                   # too short
            t = good_words(int(g.integers(8, MIN_WORDS - 5)))
        elif flaw == 1:                                 # symbol-heavy
            t = good_words(int(g.integers(60, 120)))
            t = [("#" + w) if j % 3 == 0 else w for j, w in enumerate(t)]
        elif flaw == 2:                                 # no stopwords
            t = vocab[g.integers(0, len(vocab),
                                 int(g.integers(60, 120)))].tolist()
        else:                                           # numeric
            t = good_words(int(g.integers(60, 120)))
            t = [str(int(g.integers(10, 99999))) if j % 2 else w
                 for j, w in enumerate(t)]
        texts.append(" ".join(t))
        kind.append("low")
    for _ in range(n_contam):
        t = good_words(int(g.integers(60, 140)))
        ev = evals[int(g.integers(0, len(evals)))].split()
        at = int(g.integers(0, len(ev) - 12))
        cut = int(g.integers(3, len(t) - 3))
        texts.append(" ".join(t[:cut] + ev[at:at + 12] + t[cut:]))
        kind.append("contam")
    families = []
    while len(texts) < n_docs:
        base = good_words(int(g.integers(60, 160)))
        size = min(int(g.integers(2, 5)), n_docs - len(texts))
        if size > 1 and g.random() < 0.06:
            members = []
            for v in range(size):
                if v == 0:
                    txt = " ".join(base)
                else:
                    seps = g.choice([" ", " ", " ", "  ", "\n"], len(base))
                    seps[-1] = ""
                    txt = "".join(
                        (w.upper() if g.random() < 0.2 else w) + s
                        for w, s in zip(base, seps.tolist()))
                members.append(len(texts))
                texts.append(txt)
                kind.append("dup")
            families.append(members)
        else:
            texts.append(" ".join(base))
            kind.append("good")
    # doc ids are a seeded permutation, so neither families nor
    # defects sit in id order
    ids = (seq * n_docs + g.permutation(n_docs)).tolist()
    langs = [LANGS[j] for j in g.integers(0, len(LANGS), n_docs)]
    path = os.path.join(workdir, "corpus-%05d.ndjson" % seq)
    with open(path, "w") as f:
        for d, lg, t in zip(ids, langs, texts):
            f.write(json.dumps({"doc_id": d, "lang": lg, "text": t}))
            f.write("\n")

    screened = {i for i, k in enumerate(kind) if k != "low"}
    dropped = {m for fam in families
               for m in sorted(fam, key=lambda j: ids[j])[1:]}
    deduped = screened - dropped
    kept = deduped - {i for i, k in enumerate(kind) if k == "contam"}
    packs = {}
    for lg in LANGS:
        cum = 0
        for i in sorted((i for i in kept if langs[i] == lg),
                        key=lambda j: ids[j]):
            n_tok = len(texts[i].split())
            packs[ids[i]] = (lg, n_tok, cum // PACK_BUDGET)
            cum += n_tok
    truth = {
        "rows_out": {"screen": len(screened), "dedup": len(deduped),
                     "decontam": len(kept), "pack": len(kept)},
        "packs": packs,                 # doc_id -> (lang, n_tokens, pack)
        "files": len({langs[i] for i in kept}),
    }
    return path, evals, truth
