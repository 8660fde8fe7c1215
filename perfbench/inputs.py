"""Seeded benchmark inputs: generation, on-disk cache, properties, oracle.

Two transcript tables are generated from ``--seed``.  Keys, roles and
timestamps come from ``sources.transcripts.generate_transcripts_pdf``, and so
does every payload: the generator's own html, pdf and plain/markdown payloads
(its 600-variant pools), sorted into kinds by ``core.classify.classify_one``.
Their sizes are therefore the program's synthetic-transcript sizes (html
about 1.1 KB, pdf about 0.5 KB, plain about 150 B at the median).

* ``mixed``  — every payload distinct: the pools of as many seeded tables as
  it takes, each payload used once.  Kind counts fixed at 40/30/30
  html/pdf/plain (FIXTURES.md).  0.1% of the turns are 100 KB-1 MB html/pdf
  tool outputs, each assembled from many of those payloads (the articles of
  html pages in one page; pdf payloads as the pages of one document).  Used
  by ``batch_mixed_unique`` and ``checkpoint_resume``.
* ``pooled`` — 95% short (<= 300 B) plain/markdown turns, the rest of the
  kinds as the generator drew them, every payload from the seed's pools,
  capped so that under 1% of the payloads are distinct.  With 95% short
  plain, the html and pdf parsers take about an eighth of the kernel time.

Row count, kind counts, the share of each kind per file and the row
positions and sizes of the large payloads are the same for every seed; the
payloads themselves and their order depend on it.

A table is written once as multi-file parquet under the cache directory,
together with its oracle output (``core.extract.extract_one`` row by row, in
``ORACLE_PROCS`` processes) and a ``meta.json`` holding its properties and
content fingerprint.  Generation is never part of any timed section.
"""

from __future__ import annotations

import concurrent.futures
import hashlib
import itertools
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# bump when generation changes, so cached inputs are not reused
GEN_VERSION = 5
N_FILES = 8
ORACLE_PROCS = 4
GEN_PROCS = 4  # processes that build the mixed table's payload pools

SIZES = {
    # turns per table; "tiny" is the smoke-test size
    "full": {"mixed": 8_000, "pooled": 50_000},
    "tiny": {"mixed": 1_200, "pooled": 2_000},
}

INPUT_SCHEMA = pa.schema([
    pa.field("conv_id", pa.string()),
    pa.field("turn_idx", pa.int32()),
    pa.field("role", pa.string()),
    pa.field("text", pa.string()),
    pa.field("tool", pa.string()),
    pa.field("ts", pa.timestamp("us")),
])

SPAN_ARROW = pa.list_(pa.struct([
    pa.field("kind", pa.string()),
    pa.field("start", pa.int32()),
    pa.field("end", pa.int32()),
]))

ORACLE_SCHEMA = pa.schema([
    pa.field("conv_id", pa.string()),
    pa.field("turn_idx", pa.int32()),
    pa.field("payload_kind", pa.string()),
    pa.field("text", pa.string()),
    pa.field("spans", SPAN_ARROW),
    pa.field("parse_failed", pa.bool_()),
])

# ``generate_transcripts_pdf`` builds its 600-variant pools per kind before it
# samples turns from them; at this many conversations nearly every variant
# appears in the table
POOL_CONVS = 700
SHORT_BYTES = 300
POOLED_SHORT_FRAC = 0.95


def _pool_payloads(seed: int) -> dict[str, list[str]]:
    """The distinct payloads of one ``sources.transcripts`` table, by the
    kind ``core.classify.classify_one`` gives them (edge rows left out)."""
    from document_extraction_spark.core.classify import classify_one
    from document_extraction_spark.sources.transcripts import generate_transcripts_pdf

    pdf = generate_transcripts_pdf(POOL_CONVS, seed)
    out: dict[str, list[str]] = {"html": [], "pdf": [], "plain": []}
    for text in pd.unique(pdf.loc[~pdf["conv_id"].str.startswith("conv-edge-"), "text"]):
        out[classify_one(text)].append(text)
    for v in out.values():
        v.sort()
    return out


def _distinct_payloads(counts: dict[str, int], seed: int) -> dict[str, list[str]]:
    """``counts[kind]`` distinct ``sources.transcripts`` payloads per kind,
    gathered from the pools of as many seeded tables as it takes."""
    got: dict[str, dict[str, None]] = {k: {} for k in counts}
    # tables are built GEN_PROCS at a time; the result is the same as one at
    # a time, since later tables only append past the first n of each kind
    with concurrent.futures.ProcessPoolExecutor(GEN_PROCS) as pool:
        for k in itertools.count(step=GEN_PROCS):
            if all(len(got[kind]) >= n for kind, n in counts.items()):
                break
            for pools in pool.map(_pool_payloads, range(seed * 1_000 + k,
                                                        seed * 1_000 + k + GEN_PROCS)):
                for kind, texts in pools.items():
                    if kind in got:
                        got[kind].update(dict.fromkeys(texts))
    return {kind: list(got[kind])[:n] for kind, n in counts.items()}


def _large_html(parts: list[str], target: int) -> str:
    """One page around the ``<article>`` contents of many html payloads."""
    head, rest = parts[0].split("<article>", 1)
    tail = rest.split("</article>", 1)[1]
    body, size, i = [], len(head) + len(tail), 0
    while size < target:
        art = parts[i % len(parts)].split("<article>", 1)[1].split("</article>", 1)[0]
        body.append(art)
        size += len(art) + 1
        i += 1
    return head + "<article>" + "\n".join(body) + "</article>" + tail


def _large_pdf(parts: list[str], target: int) -> str:
    """Many pdf payloads as the pages of one document (form-feed lines)."""
    pages, size, i = [], 0, 0
    while size < target:
        pages.append(parts[i % len(parts)])
        size += len(pages[-1]) + 3
        i += 1
    return "\n\f\n".join(pages)


def _skeleton(n_rows: int, seed: int) -> pd.DataFrame:
    """Exactly ``n_rows`` keyed turns from ``sources.transcripts``: the first
    ``n_rows - 14`` generated turns plus its 14 fixed edge-case turns."""
    from document_extraction_spark.sources.transcripts import generate_transcripts_pdf

    n_convs = max(8, int(n_rows / 12))
    while True:
        pdf = generate_transcripts_pdf(n_convs, seed)
        edge = pdf["conv_id"].str.startswith("conv-edge-")
        if int((~edge).sum()) >= n_rows - int(edge.sum()):
            break
        n_convs *= 2
    main = pdf[~edge].head(n_rows - int(edge.sum()))
    return pd.concat([main, pdf[edge]], ignore_index=True)


def _mixed(n_rows: int, seed: int) -> pd.DataFrame:
    """Every payload distinct and built by ``sources.transcripts``; kind
    counts fixed at 40/30/30; 0.1% of the turns are 100 KB-1 MB html/pdf
    payloads assembled from those payloads."""
    rng = np.random.default_rng([seed, 1])
    table = _skeleton(n_rows, seed)
    edge = table["conv_id"].str.startswith("conv-edge-").to_numpy()
    idx = np.flatnonzero(~edge)
    n = len(idx)
    n_large = max(1, -(-n_rows // 1000))
    # large payloads at evenly spaced rows, sizes 100 KB..1 MB in a fixed order
    large_rows = idx[((np.arange(n_large) + 0.5) * n / n_large).astype(int)]
    large_sizes = np.geomspace(100_000, 1_000_000, n_large).astype(np.int64)
    large_sizes = large_sizes[np.random.default_rng(0).permutation(n_large)]
    rest = np.setdiff1d(idx, large_rows)
    n_html = round(0.4 * n_rows) - (n_large + 1) // 2
    n_pdf = round(0.3 * n_rows) - n_large // 2
    pool = _distinct_payloads(
        {"html": n_html, "pdf": n_pdf, "plain": len(rest) - n_html - n_pdf}, seed)
    items = sorted((p for kind in ("html", "pdf", "plain") for p in pool[kind]),
                   key=lambda p: (len(p), p))
    # deal the size-sorted payloads across the files in turn, so every file
    # (and every task reading it) gets the same mix of kinds and sizes
    per_file = -(-n_rows // N_FILES)
    rows_of = [list(rest[(rest >= f * per_file) & (rest < (f + 1) * per_file)])
               for f in range(N_FILES)]
    dealt: list[list[str]] = [[] for _ in range(N_FILES)]
    f = 0
    for item in items:
        while len(dealt[f]) == len(rows_of[f]):
            f = (f + 1) % N_FILES
        dealt[f].append(item)
        f = (f + 1) % N_FILES
    text = table["text"].to_numpy(dtype=object).copy()
    for rows, got in zip(rows_of, dealt):
        for row, i in zip(rows, rng.permutation(len(got))):
            text[row] = got[i]
    for j, (row, size) in enumerate(zip(large_rows, large_sizes)):
        kind = "html" if j % 2 == 0 else "pdf"
        parts = [pool[kind][i] for i in rng.permutation(len(pool[kind]))]
        text[row] = (_large_html if kind == "html" else _large_pdf)(parts, int(size))
    table["text"] = text
    return table


def _pooled(n_rows: int, seed: int) -> pd.DataFrame:
    """95% short plain turns, the rest the table's own 40/30/30 draw; every
    payload from the seed's ``sources.transcripts`` pools, under 1% of them
    distinct."""
    from document_extraction_spark.core.classify import classify_one

    rng = np.random.default_rng([seed, 2])
    table = _skeleton(n_rows, seed)
    edge = table["conv_id"].str.startswith("conv-edge-").to_numpy()
    idx = np.flatnonzero(~edge)
    by_kind = _pool_payloads(seed)
    short = [v for v in by_kind["plain"] if len(v.encode("utf-8")) <= SHORT_BYTES]
    # distinct payloads stay under 1% of the rows: 0.5% short, 0.17% per kind
    cap = max(4, n_rows // 600)
    short = [short[i] for i in rng.permutation(len(short))[: 3 * cap]]
    capped = {k: [v[i] for i in rng.permutation(len(v))[:cap]] for k, v in by_kind.items()}
    kinds = np.array([classify_one(t) for t in table["text"].to_numpy()[idx]], dtype=object)
    pick = np.empty(len(idx), dtype=object)
    for kind, variants in capped.items():
        rows = np.flatnonzero(kinds == kind)
        pick[rows] = np.array(variants, dtype=object)[rng.integers(0, len(variants), len(rows))]
    n_short = -(-len(idx) * round(100 * POOLED_SHORT_FRAC) // 100)
    rows = rng.permutation(len(idx))[:n_short]
    pick[rows] = np.array(short, dtype=object)[rng.integers(0, len(short), n_short)]
    text = table["text"].to_numpy(dtype=object).copy()
    text[idx] = pick
    table["text"] = text
    return table


GENERATORS = {"mixed": _mixed, "pooled": _pooled}


# --------------------------------------------------------------------------
# cache
# --------------------------------------------------------------------------

def fingerprint(table: pd.DataFrame) -> str:
    """sha256 over the table's rows in file order (content, not file bytes)."""
    h = hashlib.sha256()
    for col in INPUT_SCHEMA.names:
        h.update(col.encode())
        h.update(pd.util.hash_pandas_object(table[col], index=False).to_numpy().tobytes())
    return h.hexdigest()


def properties(table: pd.DataFrame, kinds: pd.Series) -> dict:
    nbytes = table["text"].fillna("").map(lambda s: len(s.encode("utf-8"))).to_numpy()
    kinds = kinds.value_counts(normalize=True)
    return {
        "turns": int(len(table)),
        "payload_mb": round(float(nbytes.sum()) / 1e6, 3),
        "kind_mix": {k: round(float(kinds.get(k, 0.0)), 4) for k in ("html", "pdf", "plain")},
        "distinct_payload_frac": round(table["text"].nunique(dropna=False) / len(table), 5),
        "payload_bytes_p50": int(np.percentile(nbytes, 50)),
        "payload_bytes_p99": int(np.percentile(nbytes, 99)),
        "payload_bytes_max": int(nbytes.max()),
    }


def ensure_input(cache_root: str, table_name: str, seed: int, size: str) -> dict:
    """Generate (once) and return ``{"dir", "data", "oracle", "meta"}`` for
    one seeded table.  The directory is published by an atomic rename, so a
    killed run never leaves a half-written input behind."""
    n_rows = SIZES[size][table_name]
    key = f"{table_name}-{n_rows}-s{seed}-v{GEN_VERSION}"
    final = os.path.join(cache_root, key)
    if not os.path.exists(os.path.join(final, "meta.json")):
        tmp = final + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        table = GENERATORS[table_name](n_rows, seed)
        table["turn_idx"] = table["turn_idx"].astype("int32")
        data = os.path.join(tmp, "data")
        os.makedirs(data)
        arrow = pa.Table.from_pandas(table[INPUT_SCHEMA.names], schema=INPUT_SCHEMA,
                                     preserve_index=False)
        per_file = -(-arrow.num_rows // N_FILES)
        files = []
        for i in range(N_FILES):
            f = os.path.join(data, f"part-{i:05d}.parquet")
            pq.write_table(arrow.slice(i * per_file, per_file), f)
            files.append(f)
        oracle_dir = os.path.join(tmp, "oracle")
        os.makedirs(oracle_dir)
        _run_oracle(files, oracle_dir)
        oracle = pq.read_table(oracle_dir)
        meta = {"table": table_name, "seed": seed, "size": size,
                "gen_version": GEN_VERSION, "fingerprint": fingerprint(table),
                **properties(table, oracle.column("payload_kind").to_pandas()),
                "oracle_check": checksum(oracle)}
        with open(os.path.join(tmp, "meta.json"), "w") as fh:
            json.dump(meta, fh, indent=1)
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
    with open(os.path.join(final, "meta.json")) as fh:
        meta = json.load(fh)
    return {"dir": final, "data": os.path.join(final, "data"),
            "oracle": os.path.join(final, "oracle"), "meta": meta}


def checksum(table: pa.Table) -> dict:
    """Rows, distinct (conv_id, turn_idx) keys, and the order-independent sum
    (mod 2**64) of a 64-bit hash of each row's (conv_id, turn_idx, text,
    spans), the spans hashed element by element with their position."""
    hash_rows = pd.util.hash_pandas_object
    spans = table.column("spans").combine_chunks()
    flat = pc.list_flatten(spans)
    parent = pc.list_parent_indices(spans).to_numpy()
    offsets = spans.offsets.to_numpy()
    elems = pd.DataFrame({
        "pos": np.arange(len(parent)) - (offsets[parent] - offsets[0]),
        **{f: pc.struct_field(flat, f).to_pandas() for f in ("kind", "start", "end")},
    })
    span_hash = np.zeros(table.num_rows, dtype=np.uint64)
    np.add.at(span_hash, parent, hash_rows(elems, index=False).to_numpy())
    rows = table.select(["conv_id", "turn_idx", "text"]).to_pandas()
    rows["turn_idx"] = rows["turn_idx"].astype("int64")
    keys = rows[["conv_id", "turn_idx"]]
    rows["spans"] = span_hash
    rows["spans_null"] = spans.is_null().to_numpy(zero_copy_only=False)
    total = hash_rows(rows, index=False).to_numpy().sum(dtype=np.uint64)
    return {"rows": table.num_rows, "keys": int(len(keys) - keys.duplicated().sum()),
            "checksum": str(int(total))}


# --------------------------------------------------------------------------
# oracle: core.extract.extract_one, row by row, in ORACLE_PROCS processes
# --------------------------------------------------------------------------

def _oracle_shard(files: list[str], out: str) -> None:
    pq.write_table(oracle_rows(files), out)


def _run_oracle(files: list[str], out_dir: str) -> None:
    shards = [s for s in (files[i::ORACLE_PROCS] for i in range(ORACLE_PROCS)) if s]
    outs = [os.path.join(out_dir, f"part-{i:05d}.parquet") for i in range(len(shards))]
    with concurrent.futures.ProcessPoolExecutor(len(shards)) as pool:
        list(pool.map(_oracle_shard, shards, outs))


def oracle_rows(files: list[str]) -> pa.Table:
    from document_extraction_spark.core.extract import extract_one

    table = pq.read_table(files, columns=["conv_id", "turn_idx", "text"])
    memo: dict[str, dict] = {}
    kinds, texts, spans, failed = [], [], [], []
    for raw in table.column("text").to_pylist():
        key = raw or ""
        res = memo.get(key)
        if res is None:
            res = memo[key] = extract_one(raw)
        kinds.append(res["payload_kind"])
        texts.append(res["text"])
        spans.append(res["spans"])
        failed.append(res["parse_failed"])
    return pa.table(
        [table.column("conv_id"), table.column("turn_idx"), kinds, texts,
         pa.array(spans, type=SPAN_ARROW), failed],
        schema=ORACLE_SCHEMA,
    )
