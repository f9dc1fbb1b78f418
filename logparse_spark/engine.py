"""The vectorized rule engine (P3): ONE Arrow-native stage doing
detokenize -> header parse -> class dispatch -> ordered first-match
regex extraction -> convert -> promote.

This is the reference's entire runtime (systemlog.py §parse_log +
§capture_line + §capture_message, rules.py combinators [R-H]) collapsed
into a single Arrow-batched stage:

- ``mapInArrow`` (NOT mapInPandas): the dominant payload — the binding
  ``tokens: array<int32>`` column — passes through ZERO-COPY in both
  directions (the output RecordBatch reuses the input Arrow buffers).
  Measured: the stage is IPC-bound, not regex-bound; eliminating the
  arrow->pandas->arrow conversion of the token lists is the single
  biggest throughput lever.
- detokenize reads the ListArray's flattened values buffer once per
  batch (one contiguous bytes buffer, C-level per-row slices);
- extraction is a direct ``re`` search loop over the class-masked rows'
  object arrays (strings must become Python objects for `re` anyway);
- first-match-wins preserved by ordered iteration + mask update
  (rules.py §capture/§switch semantics);
- NO per-row Python UDFs (BASELINE.json mandate).

Scale: the stage is embarrassingly parallel (no shuffle), state-free,
and streams bounded Arrow batches, so it scales linearly with
executors; the only JVM<->Python boundary in the whole pipeline is
here, crossed once.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame

from logparse_spark.rulebook import (
    DATE_FORMAT,
    PROMOTED_COLUMNS,
    UNKNOWN_FAMILY,
    UNKNOWN_RULE_ID,
    compile_rulebook,
)

PARSED_SCHEMA = (
    "doc_id string, source string, tokens array<int>, n_tok int, "
    "level string, thread_name string, thread_id string, ts timestamp, "
    "source_file string, source_line int, message string, extra array<string>, "
    "rule_id int, family string, fields map<string,string>, "
    + ", ".join(f"{c} {'bigint' if t == 'long' else t}" for c, t in PROMOTED_COLUMNS)
)

_PATTERN_CACHE: dict[tuple[str, int], re.Pattern] = {}


def _pat(regex: str, flags: int = 0) -> re.Pattern:
    key = (regex, flags)
    p = _PATTERN_CACHE.get(key)
    if p is None:
        p = _PATTERN_CACHE[key] = re.compile(regex, flags)
    return p


def _convert_columns(ext: dict[str, list], converters: dict[str, str]) -> dict:
    """Vectorized canonical conversion (rules.py §convert [R-H]).

    Operates on plain lists/ndarrays of captured strings (never None —
    the hit criterion requires every group matched); numpy parses the
    int64/float64 exactly like the former pandas astype (same C paths,
    same OverflowError on out-of-range), without per-rule Series/block
    construction (~9% of the kernel).
    """
    for fname, conv in converters.items():
        vals = ext[fname]
        if conv == "int":
            ext[fname] = np.array(vals, dtype=np.int64).astype(str).astype(object)
        elif conv == "comma_int":
            iv = np.array([s.replace(",", "") for s in vals], dtype=np.int64)
            ext[fname] = iv.astype(str).astype(object)
        elif conv == "float":
            fv = np.array(vals, dtype=np.float64)
            # str over np.float64 scalars == the former .map(str) output
            ext[fname] = np.array([str(v) for v in fv], dtype=object)
        else:  # pragma: no cover - unknown converter kept as-is
            ext[fname] = vals
    return ext


def decode_tokens_arrow(tokens: pa.Array) -> list[str]:
    """ListArray<int32> -> list[str]: ONE flattened values buffer, then
    C-level bytes slices + decode per row (no per-row numpy objects)."""
    import pyarrow.compute as pc

    lengths = pc.list_value_length(tokens).to_numpy(zero_copy_only=False)
    lengths = np.nan_to_num(lengths).astype(np.int64)
    flat = tokens.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
    buf = (flat & 0xFF).astype(np.uint8).tobytes()
    ends = np.cumsum(lengths)
    starts = ends - lengths
    return [buf[s:e].decode("utf-8", "replace") for s, e in zip(starts, ends)]


def parse_texts(texts: pd.Series, compiled: dict) -> dict:
    """The rule engine core: detokenized event strings -> column dict.

    Returns plain numpy/object columns; callers assemble pandas or
    Arrow output.  Index of `texts` must be a clean RangeIndex.
    """
    n = len(texts)
    idx = texts.index

    # --- header parse (capture_line [R-H]): ordered format alternatives ----
    # direct re loops over object arrays instead of pandas str.extract:
    # extract builds a DataFrame + per-group list comprehensions per
    # call, which profiled at ~45% of the kernel (r7); the regex work
    # itself is identical and the semantics are pinned equal by
    # tests/test_engine_kernel.py
    hdr_cols = ["level", "thread", "date", "source_file", "source_line", "message"]
    hdr = pd.DataFrame(index=idx, columns=hdr_cols, dtype=object)
    unmatched = np.ones(n, dtype=bool)
    tvals = texts.to_numpy(dtype=object)
    hdr_arrs = {c: np.full(n, None, dtype=object) for c in hdr_cols}
    for hregex in compiled["headers"]:
        if not unmatched.any():
            break
        pat = _pat(hregex, re.DOTALL)
        names = [None] * pat.groups
        for k, v in pat.groupindex.items():
            names[v - 1] = k
        level_gi = names.index("level")
        for i in np.flatnonzero(unmatched):
            m = pat.search(tvals[i])
            if m is None:
                continue
            g = m.groups()
            if g[level_gi] is None:  # same hit rule as extract+notna(level)
                continue
            for j, nm in enumerate(names):
                hdr_arrs[nm][i] = g[j]
            unmatched[i] = False
    for c in hdr_cols:
        hdr[c] = hdr_arrs[c]
    header_ok = ~unmatched

    # message first-line vs continuation (parse_log fold [R-H]: one row ==
    # one pre-folded event; continuation lines go to `extra`) — plain
    # str.partition loop: same values as str.split(n=1, expand=True)
    # without the intermediate DataFrame build
    msg_full = hdr["message"].where(header_ok, texts)
    msg_arr = np.full(n, None, dtype=object)
    extra_arr = np.full(n, None, dtype=object)
    for i, s in enumerate(msg_full.to_numpy(dtype=object)):
        if isinstance(s, str):
            head, sep, rest = s.partition("\n")
            msg_arr[i] = head
            if sep:
                extra_arr[i] = rest.split("\n")
    message = pd.Series(msg_arr, index=idx)
    extra = pd.Series(extra_arr, index=idx)

    # thread "name[:id]" — direct search loop, same regex as the former
    # str.extract (kills the per-call DataFrame build, not the regex)
    thr_pat = _pat(r"^(?P<thread_name>.*?)(?::(?P<thread_id>\d+))?$")
    tn_arr = np.full(n, None, dtype=object)
    ti_arr = np.full(n, None, dtype=object)
    for i, s in enumerate(hdr["thread"].to_numpy(dtype=object)):
        if isinstance(s, str):
            m = thr_pat.search(s)
            if m is not None:
                tn_arr[i], ti_arr[i] = m.group(1), m.group(2)
    thr = {"thread_name": pd.Series(tn_arr, index=idx),
           "thread_id": pd.Series(ti_arr, index=idx)}
    ts = pd.to_datetime(hdr["date"], format=DATE_FORMAT, errors="coerce")
    class_stem = hdr["source_file"].str.replace(".java", "", regex=False)

    # --- rule dispatch + ordered first-match extraction ---------------------
    rule_id = np.full(n, UNKNOWN_RULE_ID, dtype=np.int32)
    family = np.full(n, UNKNOWN_FAMILY, dtype=object)
    fields: list[dict] = [{} for _ in range(n)]
    promoted = {c: np.full(n, None, dtype=object) for c, _ in PROMOTED_COLUMNS}

    cls_values = class_stem.to_numpy(dtype=object)
    mvals = message.to_numpy(dtype=object)
    for cls, rules in compiled["by_class"].items():
        remaining = (cls_values == cls) & header_ok
        if not remaining.any():
            continue
        rem_idx = np.flatnonzero(remaining)
        for rule in rules:
            if rem_idx.size == 0:
                break
            pat = _pat(rule["regex"])
            if rule["groups"]:
                # direct search loop == str.extract + notna().all(axis=1):
                # a hit is a match with NO unmatched optional group
                names = [None] * pat.groups
                for k, v in pat.groupindex.items():
                    names[v - 1] = k
                hit_list: list[int] = []
                gcols: list[list] = [[] for _ in names]
                miss_list: list[int] = []
                for i in rem_idx:
                    m = pat.search(mvals[i])
                    if m is not None:
                        g = m.groups()
                        if None not in g:
                            hit_list.append(i)
                            for j, v in enumerate(g):
                                gcols[j].append(v)
                            continue
                    miss_list.append(i)
                if not hit_list:
                    continue
                hit_idx = np.array(hit_list, dtype=np.int64)
                matched = _convert_columns(
                    dict(zip(names, gcols)), rule["converters"])
                for fname, col in rule["promote"].items():
                    nums = pd.to_numeric(
                        pd.Series(matched[fname], dtype=object), errors="coerce")
                    promoted[col][hit_idx] = [
                        int(v) if pd.notna(v) else None for v in nums
                    ]
                # zip over object columns: same result as to_dict('records')
                # without pandas' per-cell boxing (measured ~15% of kernel)
                mcols = list(matched)
                marrs = [np.asarray(matched[c], dtype=object) for c in mcols]
                for j, i in enumerate(hit_idx):
                    fields[i] = {
                        k: a[j] for k, a in zip(mcols, marrs) if isinstance(a[j], str)
                    }
            else:
                hit_list, miss_list = [], []
                for i in rem_idx:
                    if pat.match(mvals[i]) is not None:  # str.match semantics
                        hit_list.append(i)
                    else:
                        miss_list.append(i)
                if not hit_list:
                    continue
                hit_idx = np.array(hit_list, dtype=np.int64)
            rule_id[hit_idx] = rule["rule_id"]
            family[hit_idx] = rule["family"]
            rem_idx = np.array(miss_list, dtype=np.int64)

    return {
        "level": hdr["level"],
        "thread_name": thr["thread_name"],
        "thread_id": thr["thread_id"],
        "ts": ts,
        "source_file": hdr["source_file"],
        "source_line": pd.to_numeric(hdr["source_line"], errors="coerce"),
        "message": message,
        "extra": extra,
        "rule_id": rule_id,
        "family": family,
        "fields": fields,
        "promoted": promoted,
    }


def _arrow_output_schema(tz: str) -> pa.Schema:
    return pa.schema(
        [
            pa.field("doc_id", pa.string()),
            pa.field("source", pa.string()),
            pa.field("tokens", pa.list_(pa.int32())),
            pa.field("n_tok", pa.int32()),
            pa.field("level", pa.string()),
            pa.field("thread_name", pa.string()),
            pa.field("thread_id", pa.string()),
            pa.field("ts", pa.timestamp("us", tz=tz)),
            pa.field("source_file", pa.string()),
            pa.field("source_line", pa.int32()),
            pa.field("message", pa.string()),
            pa.field("extra", pa.list_(pa.string())),
            pa.field("rule_id", pa.int32()),
            pa.field("family", pa.string()),
            pa.field("fields", pa.map_(pa.string(), pa.string())),
        ]
        + [pa.field(c, pa.int64()) for c, _ in PROMOTED_COLUMNS]
    )


def parse_batch_arrow(batch: pa.RecordBatch, compiled: dict, schema: pa.Schema) -> pa.RecordBatch:
    name_idx = {n: i for i, n in enumerate(batch.schema.names)}
    tokens = batch.column(name_idx["tokens"])
    texts = pd.Series(decode_tokens_arrow(tokens), dtype=object)
    cols = parse_texts(texts, compiled)

    ts_arr = pa.Array.from_pandas(cols["ts"]).cast(schema.field("ts").type)
    arrays = [
        batch.column(name_idx["doc_id"]),        # zero-copy passthrough
        batch.column(name_idx["source"]),        # zero-copy passthrough
        tokens.cast(pa.list_(pa.int32())),       # zero-copy passthrough
        batch.column(name_idx["n_tok"]).cast(pa.int32()),
        pa.array(cols["level"], type=pa.string(), from_pandas=True),
        pa.array(cols["thread_name"], type=pa.string(), from_pandas=True),
        pa.array(cols["thread_id"], type=pa.string(), from_pandas=True),
        ts_arr,
        pa.array(cols["source_file"], type=pa.string(), from_pandas=True),
        pa.array(cols["source_line"], type=pa.int32(), from_pandas=True),
        pa.array(cols["message"], type=pa.string(), from_pandas=True),
        pa.array(cols["extra"], type=pa.list_(pa.string()), from_pandas=True),
        pa.array(cols["rule_id"], type=pa.int32()),
        pa.array(cols["family"], type=pa.string()),
        pa.array([list(d.items()) for d in cols["fields"]],
                 type=pa.map_(pa.string(), pa.string())),
    ] + [
        pa.array(cols["promoted"][c].tolist(), type=pa.int64())
        for c, _ in PROMOTED_COLUMNS
    ]
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


def parse_sequences(df: DataFrame, rules=None) -> DataFrame:
    """sequences(doc_id, tokens, n_tok, source) -> parsed events DataFrame.

    The compiled rule table ships via ``sparkContext.broadcast`` — one
    serialized copy per executor, not per task.  At 274+ rules with
    compiled regexes the per-task closure cost is O(tasks x rulebook)
    and the broadcast is O(executors); on a 1000-executor cluster with
    100k tasks per stage that is the difference between shipping the
    rulebook 100k times and 1000 times.  (compile_rulebook emits plain
    dicts of strings — regexes recompile worker-side behind the module
    _PATTERN_CACHE — so the broadcast value round-trips cleanly.)
    """
    compiled = compile_rulebook(rules)
    tz = df.sparkSession.conf.get("spark.sql.session.timeZone", "UTC")
    out_schema = _arrow_output_schema(tz)
    bc = df.sparkSession.sparkContext.broadcast(compiled)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        rb = bc.value
        for batch in batches:
            if batch.num_rows:
                yield parse_batch_arrow(batch, rb, out_schema)

    return df.mapInArrow(fn, schema=PARSED_SCHEMA)
