"""Compare the program's outputs with the truth the generators planted.

Each check returns a list of mismatch strings; an empty list means the
output is correct. A request with any mismatch counts as failed.
"""

from __future__ import annotations

import datetime as dt

from gen import TS_FORMAT

#: structa_spark.model.node_to_dict type name -> truth type class
_PLAIN = {"int", "float", "bool", "str", "datetime", "list", "record",
          "table"}


def flatten(node: dict, path=(), optional=False, out=None) -> dict:
    """``path -> (type class, optional, stats)`` of a ``node_to_dict``
    tree, with paths spelled as in ``gen``."""
    out = {} if out is None else out
    kind, stats = node["type"], node.get("stats")
    if kind == "strrepr":
        kind = "str_of_" + node["of"]["type"]
        stats = node["of"].get("stats")
    elif kind not in _PLAIN:
        kind = "unexpected:" + kind
    out[path] = (kind, optional, stats)
    if node["type"] == "record":
        for f in node["fields"]:
            flatten(f["value"], path + (f["key"],), f["optional"], out)
    elif node["type"] == "list":
        flatten(node["element"], path + ("[]",), False, out)
    elif node["type"] == "table":
        flatten(node["key"], path + ("{k}",), False, out)
        flatten(node["value"], path + ("{v}",), False, out)
    return out


def _as_truth_value(kind, v):
    """A reported min/max in the form the truth records it."""
    if v is None:
        return None
    if kind.endswith("datetime"):
        if isinstance(v, dt.datetime):
            return v.strftime(TS_FORMAT)
        return dt.datetime.fromisoformat(str(v)).strftime(TS_FORMAT)
    return int(v)


def check_profile(truth: dict, row_count: int, tree: dict) -> list:
    """``tree`` is ``node_to_dict`` of the merged root; ``row_count``
    is the analyzed profile's row count.

    String-encoded datetimes carry no min/max in this engine's profile
    (their stats hold ``None``); for them a range is compared only when
    one is reported. Every other int or datetime leaf must report the
    planted range exactly."""
    bad = []
    if row_count != truth["rows"]:
        bad.append("rows: %r != %r" % (row_count, truth["rows"]))
    got = flatten(tree)
    want = truth["paths"]
    for p in sorted(set(got) ^ set(want)):
        bad.append("path %s: %s" % ("/".join(p) or "<root>",
                                    "unexpected" if p in got else "missing"))
    for p in sorted(set(got) & set(want)):
        kind, optional, stats = got[p]
        spec = want[p]
        name = "/".join(p) or "<root>"
        if kind != spec["type"]:
            bad.append("%s: type %s != %s" % (name, kind, spec["type"]))
            continue
        if optional != spec["optional"]:
            bad.append("%s: optional %s != %s"
                       % (name, optional, spec["optional"]))
        if "min" not in spec:
            continue
        for end in ("min", "max"):
            v = _as_truth_value(kind, (stats or {}).get(end))
            if v is None and kind == "str_of_datetime":
                continue
            if v != spec[end]:
                bad.append("%s: %s %r != %r" % (name, end, v, spec[end]))
    return bad


def check_corpus(truth: dict, packs: dict, files: int,
                 rows_out: dict = None) -> list:
    """``packs`` maps each written ``doc_id`` to ``(lang, n_tokens,
    pack_id)`` as read back from the sink; ``files`` is the number of
    data files written; ``rows_out`` (optional) the row count of each
    rung's output."""
    bad = []
    want = truth["packs"]
    missing, extra = set(want) - set(packs), set(packs) - set(want)
    if missing:
        bad.append("%d surviving docs missing, e.g. %s"
                   % (len(missing), sorted(missing)[:3]))
    if extra:
        bad.append("%d docs should have been dropped, e.g. %s"
                   % (len(extra), sorted(extra)[:3]))
    wrong = sorted(d for d in set(want) & set(packs) if want[d] != packs[d])
    if wrong:
        d = wrong[0]
        bad.append("%d docs packed wrongly, e.g. %s: %r != %r"
                   % (len(wrong), d, packs[d], want[d]))
    if files != truth["files"]:
        bad.append("files written: %d != %d" % (files, truth["files"]))
    for rung, n in (rows_out or {}).items():
        if n != truth["rows_out"][rung]:
            bad.append("%s rows_out: %d != %d"
                       % (rung, n, truth["rows_out"][rung]))
    return bad
