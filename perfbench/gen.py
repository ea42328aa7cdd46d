"""Seeded, vectorized input generators for the benchmark workloads.

Each generator is a pure function of its seed and size arguments.
``cdc_log`` returns Arrow data in the engine's ``schema.EVENT_SCHEMA``
envelope; ``corpus`` returns a document table with planted exact and
near duplicates and the ground truth the checks compare with.
Nothing loops per event in Python: keys, ops, images and the log layout
are numpy arrays, and the ``after`` maps are assembled with one Arrow
``MapArray.from_arrays``. The engine never sees the generator, only the
parquet files the workloads write from its output.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from mysql_time_machine_spark.schema import EVENT_SCHEMA

#: schema-version-1 business columns, then the columns the mid-stream
#: ``ADD COLUMN`` DDLs append, in order
V1_COLUMNS = ["commit", "lang", "content"]
DDL_COLUMNS = ["stars", "license", "topics"]
_LANGS = np.array(["python", "java", "scala", "go"])
_LICENSES = np.array(["mit", "apache-2.0", "gpl-3.0", "bsd-3-clause"])
_TOPICS = np.array(["db", "ml", "web", "os", "cli"])
_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds


def arrow_event_schema() -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(EVENT_SCHEMA)


@dataclass
class CdcLog:
    """A generated binlog: events in log order plus how to cut them into
    files and what the oracle needs to check a replay of them."""

    events: pa.Table
    #: row offsets of the file cuts: file i holds rows [cuts[i], cuts[i+1])
    cuts: list[int]
    #: business columns of the final schema version, in order
    final_columns: list[str]
    n_row_events: int

    def log_hash(self) -> str:
        """sha256 over the files' parquet-independent content: the Arrow IPC
        stream of the events plus the cut positions."""
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, self.events.schema) as w:
            w.write_table(self.events)
        h = hashlib.sha256(sink.getvalue().to_pybytes())
        h.update(repr(self.cuts).encode())
        return h.hexdigest()


def _strings(*parts) -> pa.Array:
    """Element-wise concatenation of string arrays / scalars."""
    arrs = [p if isinstance(p, (pa.Array, pa.ChunkedArray)) else pa.scalar(p) for p in parts]
    return pc.binary_join_element_wise(*arrs, "")


def _num(a: np.ndarray) -> pa.Array:
    return pc.cast(pa.array(a), pa.string())


def _filler_pool(rng: np.random.Generator, n: int, lo: int, hi: int) -> pa.Array:
    alphabet = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789 _(){}=+-", dtype=np.uint8)
    lens = rng.integers(lo, hi + 1, size=n)
    chars = alphabet[rng.integers(0, len(alphabet), size=int(lens.sum()))]
    offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
    return pa.StringArray.from_buffers(n, pa.py_buffer(offsets), pa.py_buffer(chars.tobytes()))


def cdc_log(
    seed: int,
    *,
    n_keys: int,
    n_events: int,
    n_files: int,
    zipf_alpha: float | None = None,
    partial_updates: bool = False,
    txn_rows: tuple[int, int] = (1, 1),
    ddl_at: tuple[float, ...] = (),
    straddle: bool = False,
    op_probs: tuple[float, float, float] = (0.08, 0.84, 0.08),
    content_len: tuple[int, int] = (40, 240),
    days: int = 4,
) -> CdcLog:
    """A snapshot phase (one INSERT per key at gtid 0, the initial-snapshot
    mode) followed by ``n_events`` churn row events.

    * keys: uniform, or Zipf(``zipf_alpha``) by rank with key 0 hottest;
      the hottest key only ever receives UPDATEs, so none of its events
      in a micro-batch is dead behind a reset.
    * ops: (I, U, D) probabilities; I carries the full image, U the full
      image or (``partial_updates``) a random non-empty changed-cell set,
      D no image.
    * transactions of ``txn_rows`` row events each; multi-row ones are
      wrapped in BEGIN/COMMIT control events and share one gtid.
    * one ``ADD COLUMN`` DDL at each fraction in ``ddl_at`` of the churn's
      transactions (fixed positions, so every seed cuts the same files).
    * files: ``straddle=False`` cuts only on transaction boundaries
      (txn-atomic, as MySQL rotation guarantees); ``straddle=True`` cuts at
      even row positions, so transactions span files.
    """
    rng = np.random.default_rng(seed)
    # -- transactions and DDL units, in log order ----------------------------
    lo, hi = txn_rows
    sizes = rng.integers(lo, hi + 1, size=n_events // max(lo, 1) + 1)
    sizes = sizes[: int(np.searchsorted(np.cumsum(sizes), n_events)) + 1]
    sizes[-1] -= int(sizes.sum()) - n_events
    sizes = sizes[sizes > 0]
    n_txn = len(sizes)
    n_ddls = len(ddl_at)
    if n_ddls > len(DDL_COLUMNS):
        raise ValueError(f"at most {len(DDL_COLUMNS)} DDLs")
    ddl_pos = np.array(sorted(int(f * n_txn) for f in ddl_at), dtype=np.int64)
    # unit u is a txn or a DDL; its gtid is u + 1 (the snapshot holds gtid 0)
    is_ddl_unit = np.zeros(n_txn + n_ddls, dtype=bool)
    is_ddl_unit[ddl_pos + np.arange(n_ddls)] = True
    txn_gtid = np.nonzero(~is_ddl_unit)[0] + 1
    ddl_gtid = np.nonzero(is_ddl_unit)[0] + 1
    # schema version in force at each txn: 1 + DDLs before it
    txn_sv = 1 + np.searchsorted(ddl_gtid, txn_gtid)

    # -- row events ------------------------------------------------------------
    ev_txn = np.repeat(np.arange(n_txn), sizes)
    ev_seq = np.arange(n_events) - np.repeat(np.cumsum(sizes) - sizes, sizes) + 1
    if zipf_alpha is None:
        keys = rng.integers(0, n_keys, size=n_events)
    else:
        p = np.arange(1, n_keys + 1, dtype=np.float64) ** -zipf_alpha
        keys = rng.choice(n_keys, size=n_events, p=p / p.sum())
    r = rng.random(n_events)
    p_i, p_u, _ = op_probs
    ops = np.where(r < p_i, "I", np.where(r < p_i + p_u, "U", "D"))
    if zipf_alpha is not None:
        ops[keys == 0] = "U"

    # snapshot + churn as one row-event block
    n_rows = n_keys + n_events
    r_key = np.concatenate([np.arange(n_keys), keys])
    r_op = np.concatenate([np.full(n_keys, "I"), ops])
    r_gtid = np.concatenate([np.zeros(n_keys, dtype=np.int64), txn_gtid[ev_txn]])
    r_sv = np.concatenate([np.ones(n_keys, dtype=np.int32), txn_sv[ev_txn]]).astype(np.int32)
    r_seq = np.concatenate([np.arange(n_keys), ev_seq]).astype(np.int32)
    r_txn = np.concatenate([np.full(n_keys, -1), ev_txn]).astype(np.int64)

    # images: cell (row, column) present iff the column exists at the row's
    # schema version and the row's op writes it
    all_cols = V1_COLUMNS + DDL_COLUMNS[:n_ddls]
    exists = np.arange(len(all_cols))[None, :] < (len(V1_COLUMNS) + r_sv - 1)[:, None]
    full = (r_op == "I") | ((r_op == "U") & (not partial_updates))
    mask = exists & (r_op != "D")[:, None]
    if partial_updates:
        pick = rng.random(mask.shape) < 0.5
        # at least one cell per partial update: force one existing column
        forced = (rng.random(n_rows) * (len(V1_COLUMNS) + r_sv - 1)).astype(int)
        pick[np.arange(n_rows), forced] = True
        mask &= np.where(full[:, None], True, pick)
    gtid_s = _num(r_gtid)
    key_s = _num(r_key)
    pool = _filler_pool(rng, 512, *content_len)
    values = [
        _strings("c", gtid_s, ".", key_s),
        pa.array(_LANGS).take(pa.array(rng.integers(0, len(_LANGS), size=n_rows))),
        _strings("g", gtid_s, ":", pool.take(pa.array(rng.integers(0, len(pool), size=n_rows)))),
        _strings("s", gtid_s),
        pa.array(_LICENSES).take(pa.array(rng.integers(0, len(_LICENSES), size=n_rows))),
        pa.array(_TOPICS).take(pa.array(rng.integers(0, len(_TOPICS), size=n_rows))),
    ][: len(all_cols)]
    ri, ci = np.nonzero(mask)
    cell_vals = pa.concat_arrays(values).take(pa.array(ci * n_rows + ri))
    cell_keys = pa.array(all_cols).take(pa.array(ci))
    counts = mask.sum(axis=1)
    # a null start offset makes that row's map null (DELETEs carry no image)
    offsets = pa.array(
        np.concatenate([[0], np.cumsum(counts)]).astype(np.int32),
        mask=np.concatenate([r_op == "D", [False]]),
    )
    after = pa.MapArray.from_arrays(offsets, cell_keys, cell_vals)

    # -- control events and log order -----------------------------------------
    multi = hi > 1
    # position of every event in the log: snapshot rows first, then per unit
    # [BEGIN, rows..., COMMIT] (multi-row txns) or [row] / [DDL]
    unit_len = np.ones(n_txn + n_ddls, dtype=np.int64)
    unit_len[~is_ddl_unit] = sizes + (2 if multi else 0)
    unit_start = n_keys + np.concatenate([[0], np.cumsum(unit_len)[:-1]])
    n_total = n_keys + int(unit_len.sum())
    txn_start = unit_start[~is_ddl_unit]
    row_pos = np.concatenate([
        np.arange(n_keys),
        txn_start[ev_txn] + ev_seq - (0 if multi else 1),
    ])
    order = np.empty(n_total, dtype=np.int64)
    kind = np.empty(n_total, dtype=object)  # 'R', 'BEGIN', 'COMMIT', 'DDL'
    order[row_pos] = np.arange(n_rows)
    kind[row_pos] = "R"
    ctrl_gtid = np.zeros(n_total, dtype=np.int64)
    ctrl_txn = np.full(n_total, -1, dtype=np.int64)
    ctrl_seq = np.zeros(n_total, dtype=np.int32)
    ctrl_sv = np.ones(n_total, dtype=np.int32)
    ddl_text = np.full(n_total, None, dtype=object)
    if multi:
        b = txn_start
        c = txn_start + sizes + 1
        kind[b], kind[c] = "BEGIN", "COMMIT"
        ctrl_gtid[b], ctrl_gtid[c] = txn_gtid, txn_gtid
        ctrl_txn[b], ctrl_txn[c] = np.arange(n_txn), np.arange(n_txn)
        ctrl_seq[c] = 99
        ctrl_sv[b], ctrl_sv[c] = txn_sv, txn_sv
        ddl_text[b], ddl_text[c] = "BEGIN", "COMMIT"
    d = unit_start[is_ddl_unit]
    kind[d] = "DDL"
    ctrl_gtid[d] = ddl_gtid
    ctrl_sv[d] = 2 + np.arange(n_ddls)
    ddl_text[d] = [f"ALTER TABLE repos ADD COLUMN {c} VARCHAR(64)" for c in DDL_COLUMNS[:n_ddls]]

    is_row = kind == "R"
    src = np.where(is_row, order, 0)
    gtid = np.where(is_row, r_gtid[src], ctrl_gtid)
    op = np.where(is_row, r_op[src], kind)
    # row-level columns gathered into log order; control events take null
    take = pa.array(src, mask=~is_row)
    repo = _strings("org", _num(r_key % 16)).take(take)
    path = _strings("src/f", _num(r_key), ".py").take(take)

    # files: txn-atomic cuts on unit boundaries, or even row cuts; file 0
    # is the snapshot either way
    if straddle:
        cuts = [0, n_keys] + [
            n_keys + round(i * (n_total - n_keys) / (n_files - 1)) for i in range(1, n_files)
        ]
    else:
        ends = unit_start + unit_len
        want = [n_keys + round(i * (n_total - n_keys) / (n_files - 1)) for i in range(1, n_files)]
        cuts = [0, n_keys] + sorted({int(ends[np.searchsorted(ends, w)]) for w in want})
    file_no = np.searchsorted(np.array(cuts[1:]), np.arange(n_total), side="right")
    span_us = days * 86_400_000_000
    ts = _T0_US + gtid * (span_us // (int(gtid.max()) + 1))

    events = pa.table(
        {
            "log_file": _strings("binlog.", _num(1_000_000 + file_no)),
            "log_pos": pa.array(np.arange(n_total, dtype=np.int64) + 4),
            "gtid": _strings("uuid1:", _num(gtid)),
            "gtid_seq": pa.array(gtid),
            "txn_id": pa.array(np.where(is_row, r_txn[src], ctrl_txn)),
            "seq_in_txn": pa.array(np.where(is_row, r_seq[src], ctrl_seq).astype(np.int32)),
            "server_id": pa.array(np.ones(n_total, dtype=np.int32)),
            "ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
            "op": pa.array(op.astype(str)),
            "schema_version": pa.array(np.where(is_row, r_sv[src], ctrl_sv).astype(np.int32)),
            "repo": repo,
            "path": path,
            "before": pa.nulls(n_total, pa.map_(pa.string(), pa.string())),
            "after": after.take(take),
            "ddl": pa.array(ddl_text, type=pa.string()),
        }
    ).cast(arrow_event_schema())
    return CdcLog(
        events=events,
        cuts=cuts,
        final_columns=all_cols,
        n_row_events=n_rows,
    )


#: stopwords mixed into documents so the engine's stopword language
#: guess sees each language; "xx" documents have none
_CORPUS_LANGS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "as"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "auf", "ein", "zu"],
    "fr": ["le", "la", "de", "et", "les", "des", "est", "un", "une", "dans"],
    "xx": [],
}


@dataclass
class Corpus:
    """Documents (``doc_id``, ``lang``, ``text``) plus what was planted:
    groups of identical texts and groups of one base document with its
    near-duplicate edits (each edit replaces one word of the base)."""

    docs: pa.Table
    exact_groups: list[list[int]]
    near_groups: list[list[int]]

    def corpus_hash(self) -> str:
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, self.docs.schema) as w:
            w.write_table(self.docs)
        h = hashlib.sha256(sink.getvalue().to_pybytes())
        h.update(repr((self.exact_groups, self.near_groups)).encode())
        return h.hexdigest()


def corpus(
    seed: int,
    *,
    n_base: int,
    n_exact: int,
    n_near: int,
    words: tuple[int, int] = (40, 80),
    vocab: int = 20_000,
    stop_share: float = 0.25,
) -> Corpus:
    """``n_base`` distinct documents of random words from a ``vocab``-word
    vocabulary with a ``stop_share`` of one language's stopwords; then
    ``n_exact`` of them get 1-3 identical copies and ``n_near`` others 1-2
    copies with one word replaced. Document ids are a seeded permutation,
    so the lowest id of a group is not always its base."""
    rng = np.random.default_rng(seed)
    langs = list(_CORPUS_LANGS)
    stop = [w for ws in _CORPUS_LANGS.values() for w in ws]
    stop_lo = np.cumsum([0] + [len(ws) for ws in _CORPUS_LANGS.values()])
    alphabet = np.frombuffer(b"bcdfghjklmnpqrstvwxz", dtype=np.uint8)
    vowels = np.frombuffer(b"aeiou", dtype=np.uint8)
    # vocabulary: consonant-vowel syllable words, 3 syllables each
    syl = np.stack([alphabet[rng.integers(0, len(alphabet), (vocab, 3))],
                    vowels[rng.integers(0, len(vowels), (vocab, 3))]], axis=2).reshape(vocab, 6)
    vocab_words = pa.array([w.decode() for w in np.unique(syl.view("S6").ravel())])
    n_vocab = len(vocab_words)
    table = pa.concat_arrays([vocab_words, pa.array(stop, pa.string())])

    # base documents: token ids into ``table``
    lang = rng.choice(len(langs), size=n_base, p=[0.7, 0.1, 0.1, 0.1])
    lens = rng.integers(words[0], words[1] + 1, size=n_base)
    doc_of = np.repeat(np.arange(n_base), lens)
    n_tok = len(doc_of)
    tok = rng.integers(0, n_vocab, size=n_tok)
    n_stop = (stop_lo[lang + 1] - stop_lo[lang])[doc_of]
    is_stop = (rng.random(n_tok) < stop_share) & (n_stop > 0)
    pick = stop_lo[lang][doc_of] + (rng.random(n_tok) * np.maximum(n_stop, 1)).astype(np.int64)
    tok = np.where(is_stop, n_vocab + pick, tok)

    # planted copies: exact groups and near groups over disjoint bases
    bases = rng.permutation(n_base)
    ex_base, near_base = bases[:n_exact], bases[n_exact:n_exact + n_near]
    ex_n = rng.integers(1, 4, size=n_exact)
    near_n = rng.integers(1, 3, size=n_near)
    src = np.concatenate([np.arange(n_base), np.repeat(ex_base, ex_n), np.repeat(near_base, near_n)])
    edited = np.concatenate([np.zeros(n_base + int(ex_n.sum()), bool), np.ones(int(near_n.sum()), bool)])
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    d_lens = lens[src]
    offsets = np.concatenate([[0], np.cumsum(d_lens)])
    flat = tok[np.repeat(starts[src], d_lens) + np.arange(offsets[-1]) - np.repeat(offsets[:-1], d_lens)]
    # an edit replaces one word by a different vocabulary word
    e = np.nonzero(edited)[0]
    pos = offsets[e] + (rng.random(len(e)) * d_lens[e]).astype(np.int64)
    flat[pos] = (flat[pos] + 1 + rng.integers(0, n_vocab - 1, size=len(e))) % n_vocab

    ids = rng.permutation(len(src)).astype(np.int64)
    words_arr = pa.ListArray.from_arrays(pa.array(offsets.astype(np.int32)), table.take(pa.array(flat)))
    text = pc.binary_join(words_arr, " ")
    order = np.argsort(ids)
    docs = pa.table(
        {
            "doc_id": pa.array(ids[order]),
            "lang": pa.array(np.array(langs)[lang[src]][order]),
            "text": text.take(pa.array(order)),
        }
    )
    # ground truth, as sorted id lists; a group is its base and its copies
    copy_of = np.repeat(np.arange(n_exact), ex_n)
    ex_ids = ids[n_base:n_base + int(ex_n.sum())]
    exact_groups = sorted(
        sorted([int(ids[b])] + ex_ids[copy_of == g].tolist()) for g, b in enumerate(ex_base)
    )
    near_of = np.repeat(np.arange(n_near), near_n)
    near_ids = ids[n_base + int(ex_n.sum()):]
    near_groups = sorted(
        sorted([int(ids[b])] + near_ids[near_of == g].tolist()) for g, b in enumerate(near_base)
    )
    return Corpus(docs, exact_groups, near_groups)
