"""Seeded inputs for the benchmark workloads.

Everything here is plain Python + numpy + pyarrow: no Spark, and none
of the engine's own encoders, so a codec fault cannot hide on both the
writing and the reading side.  The same ``(seed, round)`` always gives
the same bytes.

* SPO topic: Confluent-framed Avro records (magic byte 0, 4-byte
  big-endian schema id, then the three string fields, each a
  zigzag-varint length plus UTF-8 bytes).  Subjects are Zipf-skewed,
  there are 34 predicates, and about 1% of the frames are raw JSON,
  which the engine must route to its dead-letter queue with
  ``Invalid CP1 magic byte 123``.
* Curation stream: clean base documents, near-duplicates whose exact
  word 3-shingle Jaccard is recorded, repetition spam, documents that
  embed an 8-gram of an eval document; and a separate training split
  (trusted, raw and held-out documents) for the three model gates.
"""

from __future__ import annotations

import json
import os
import struct
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCHEMA_ID = 2
N_PREDICATES = 34
N_SUBJECTS = 4000
N_OBJECTS = 6000
FRAMES_PER_FILE = 1000
JSON_SHARE = 0.01

DOCS_PER_FILE = 240
EVAL_DOCS = 40
TRAIN_DOCS = 120
HELDOUT_DOCS = 40
GRAM_N = 8
#: routed pairs must have at least this exact 3-shingle Jaccard
LOW_JACCARD = 0.5
#: planted near-duplicates are made at or above this Jaccard
HIGH_JACCARD = 0.95

KAFKA_SCHEMA = pa.schema(
    [
        ("key", pa.binary()),
        ("value", pa.binary()),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
    ]
)
DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


def seeded(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


# -- Avro / Confluent wire format ---------------------------------------------


def _varint(n: int) -> bytes:
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def avro_string(s: str) -> bytes:
    b = s.encode("utf-8")
    return _varint(len(b)) + b


def confluent_frame(fields: list[str], schema_id: int = SCHEMA_ID) -> bytes:
    return b"\x00" + struct.pack(">i", schema_id) + b"".join(
        avro_string(f) for f in fields
    )


# -- SPO topic -----------------------------------------------------------------


def _zipf_ranks(rng: np.random.Generator, n: int, size: int, a: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** a
    return rng.choice(n, size=size, p=p / p.sum())


@dataclass
class SpoFile:
    """One topic file and what the engine must make of it."""

    frames: list[bytes]
    keys: list[bytes]
    triples: list[tuple[str, str, str]]  # valid frames, in order
    bad_frames: list[bytes]  # planted malformed frames


def spo_file(seed: int, index: int, n: int = FRAMES_PER_FILE) -> SpoFile:
    """File ``index`` of the seeded topic.  ``index`` < 0 are warm-up
    files, drawn from a disjoint name space."""
    rng = seeded(seed, 1, index + 1000)
    tag = "w" if index < 0 else ""
    subj = _zipf_ranks(rng, N_SUBJECTS, n, 1.1)
    pred = rng.integers(0, N_PREDICATES, n)
    # a third of the objects are subjects, so the graph connects
    obj_is_subj = rng.random(n) < 0.33
    obj_subj = _zipf_ranks(rng, N_SUBJECTS, n, 1.1)
    obj_plain = rng.integers(0, N_OBJECTS, n)
    bad = rng.random(n) < JSON_SHARE
    out = SpoFile([], [], [], [])
    for i in range(n):
        s = f"{tag}subj_{subj[i]}"
        p = f"pred_{pred[i]:02d}"
        o = f"{tag}subj_{obj_subj[i]}" if obj_is_subj[i] else f"{tag}obj_{obj_plain[i]}"
        if bad[i]:
            frame = json.dumps({"subject": s, "predicate": p, "object": o}).encode()
            out.bad_frames.append(frame)
        else:
            frame = confluent_frame([s, p, o])
            out.triples.append((s, p, o))
        out.frames.append(frame)
        out.keys.append(s.encode())
    return out


def write_spo_file(path: str, f: SpoFile, first_offset: int) -> None:
    n = len(f.frames)
    table = pa.table(
        {
            "key": f.keys,
            "value": f.frames,
            "topic": ["spo"] * n,
            "partition": pa.array([0] * n, pa.int32()),
            "offset": pa.array(range(first_offset, first_offset + n), pa.int64()),
        },
        schema=KAFKA_SCHEMA,
    )
    _write_atomic(table, path)


def spo_lookups(seed: int, index: int, seen: list[str]) -> list[tuple[str, bool]]:
    """Names to look up after batch ``index``: two present (drawn from
    the names committed so far), one absent."""
    rng = seeded(seed, 2, index + 1000)
    picks = rng.choice(len(seen), size=2, replace=False)
    return [(seen[i], True) for i in picks] + [(f"absent_{index}_{rng.integers(1 << 30)}", False)]


# -- curation stream -------------------------------------------------------------

_ONSETS = "b c d f g h j k l m n p r s t v w z br dr gr pl st tr".split()
_VOWELS = "a e i o u ai ea ou".split()


def _vocab(n: int, salt: int) -> list[str]:
    """Deterministic pronounceable words (not seed-dependent: the
    vocabulary is fixed, the documents drawn from it are seeded)."""
    rng = np.random.default_rng([salt])
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(2, 4))
        w = "".join(
            _ONSETS[rng.integers(len(_ONSETS))] + _VOWELS[rng.integers(len(_VOWELS))]
            for _ in range(k)
        )
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


VOCAB = _vocab(3000, 7)
_VOCAB_P = 1.0 / np.arange(1, len(VOCAB) + 1) ** 0.9
_VOCAB_P /= _VOCAB_P.sum()


def _line(rng: np.random.Generator, n_words: int) -> list[str]:
    return [VOCAB[i] for i in rng.choice(len(VOCAB), size=n_words, p=_VOCAB_P)]


def _doc_lines(rng: np.random.Generator) -> list[list[str]]:
    return [_line(rng, int(rng.integers(12, 18))) for _ in range(int(rng.integers(5, 8)))]


def _render(lines: list[list[str]]) -> str:
    return "\n".join(" ".join(ws) + "." for ws in lines)


def shingle_set(text: str, k: int = 3) -> set[str]:
    """The engine's documented shingling: lowercased whitespace tokens,
    k-token windows (a shorter doc is one shingle)."""
    toks = text.lower().split()
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingle_set(a), shingle_set(b)
    return len(sa & sb) / len(sa | sb)


@dataclass
class CurationFile:
    docs: list[tuple[int, str]]
    kind: dict[int, str]  # doc_id -> base | near_dup | spam | contam
    near_pairs: list[tuple[int, int, float]] = field(default_factory=list)


def eval_docs(seed: int) -> list[str]:
    rng = seeded(seed, 3)
    return [_render(_doc_lines(rng)) for _ in range(EVAL_DOCS)]


def _near_dup(rng: np.random.Generator, text: str) -> str:
    """Edit ``text`` at its start: replace its first word, or prepend
    one or two words.  Each touches at most two of the doc's 60+
    3-shingles, so the Jaccard stays at or above ~0.95."""
    words = text.split(" ")
    new = VOCAB[int(rng.integers(len(VOCAB)))] + "q"  # never an existing word
    edit = int(rng.integers(3))
    if edit == 0:
        words[0] = new
    elif edit == 1:
        words.insert(0, new)
    else:
        words[:0] = [new, VOCAB[int(rng.integers(len(VOCAB)))]]
    return " ".join(words)


def curation_file(
    seed: int, index: int, prev: CurationFile | None, evals: list[str]
) -> CurationFile:
    """Batch ``index`` of the document stream.  Ids grow with
    ``index``, and every near-duplicate has a larger id than its
    original, so the engine's later-id-is-the-duplicate rule decides
    which one it routes.  Negative ``index`` is warm-up input."""
    rng = seeded(seed, 4, index + 1000)
    base_id = (index + 1000) * 10_000
    out = CurationFile([], {})
    ids = iter(range(base_id, base_id + 10_000))
    n_base = DOCS_PER_FILE - 60
    bases: list[tuple[int, str]] = []
    for _ in range(n_base):
        d = (next(ids), _render(_doc_lines(rng)))
        bases.append(d)
        out.docs.append(d)
        out.kind[d[0]] = "base"
    # 20 near-dups of this batch's bases, 20 of the previous batch's
    # (those probe the signature store rather than the batch itself)
    sources = [bases[int(i)] for i in rng.choice(len(bases), 20, replace=False)]
    if prev is not None:
        prev_bases = [d for d in prev.docs if prev.kind[d[0]] == "base"]
        sources += [prev_bases[int(i)] for i in rng.choice(len(prev_bases), 20, replace=False)]
    for src_id, src_text in sources:
        text = _near_dup(rng, src_text)
        j = jaccard(src_text, text)
        if j < HIGH_JACCARD:
            raise RuntimeError(f"planted near-dup at Jaccard {j:.3f}")
        d = (next(ids), text)
        out.docs.append(d)
        out.kind[d[0]] = "near_dup"
        out.near_pairs.append((d[0], src_id, j))
    # repetition spam: one line repeated
    for _ in range(10):
        ln = " ".join(_line(rng, 12)) + "."
        d = (next(ids), "\n".join([ln] * int(rng.integers(8, 14))))
        out.docs.append(d)
        out.kind[d[0]] = "spam"
    # eval overlap: a clean doc with one eval 8-gram spliced mid-line
    while len(out.docs) < DOCS_PER_FILE:
        ev = evals[int(rng.integers(len(evals)))].split("\n")
        ev_line = ev[int(rng.integers(len(ev)))].split(" ")
        start = int(rng.integers(1, len(ev_line) - GRAM_N))
        gram = ev_line[start : start + GRAM_N]
        lines = _doc_lines(rng)
        li = int(rng.integers(len(lines)))
        lines[li] = lines[li][:3] + gram + lines[li][3:]
        d = (next(ids), _render(lines))
        out.docs.append(d)
        out.kind[d[0]] = "contam"
    return out


#: digits never occur in VOCAB, so no junk token is a vocabulary word
_JUNK = [f"x{i}k{i % 7}" for i in range(500)]


def training_split(seed: int) -> tuple[list[str], list[str], list[str]]:
    """Trusted, raw and held-out documents for the model gates.  Trusted
    and held-out documents are drawn like the stream's clean documents;
    raw documents are lines of junk tokens that share no word with the
    vocabulary, so every clean stream document sits on the trusted side
    of all three models."""
    rng = seeded(seed, 5)
    trusted = [_render(_doc_lines(rng)) for _ in range(TRAIN_DOCS)]
    heldout = [_render(_doc_lines(rng)) for _ in range(HELDOUT_DOCS)]
    raw = [
        "\n".join(
            " ".join(_JUNK[i] for i in rng.integers(len(_JUNK), size=int(rng.integers(12, 18))))
            + "."
            for _ in range(int(rng.integers(5, 8)))
        )
        for _ in range(TRAIN_DOCS)
    ]
    return trusted, raw, heldout


def write_doc_file(path: str, docs: list[tuple[int, str]]) -> None:
    table = pa.table(
        {"doc_id": [d[0] for d in docs], "text": [d[1] for d in docs]},
        schema=DOC_SCHEMA,
    )
    _write_atomic(table, path)


def _write_atomic(table: pa.Table, path: str) -> None:
    """Write then rename, so a file stream never lists a partial file."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, "." + name + ".tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, path)
