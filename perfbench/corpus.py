"""Seeded, fingerprinted inputs for the three workloads.

Every input is a pure function of ``(workload, seed, size)``. Generation
is cached under ``.perfbench/cache`` keyed by those and by the probe
fingerprints (so a changed generator never reuses a stale cache), and
every cached file carries a sha256 that is re-checked before use.

- ``extract_full``: the program's nine-class synthetic pages
  (``sources.pages.build_pages_records``); every 200th payload is cut
  to a PDF header (a poison row, the failure a real crawl always has).
- ``text_raw``: payload-less pre-extracted text rows; ~10% carry
  non-ASCII text (combining marks, CJK, RTL, mojibake) and every 200th
  is an empty record.
- ``crawl_chain``: a ``.warc.gz`` crawl from this module's own
  generator. Text is a Zipf-Mandelbrot vocabulary interleaved with
  English function words in ``F C C`` / ``C`` slots, so every 3-gram
  holds at least two content words: documents rarely share shingles
  unless the generator made them duplicates. Stated shares of exact
  duplicates, near duplicates (~2% of content words replaced) and
  repeated captures of one url (same url, later ``WARC-Date``) ride on
  top, plus every 200th record a poison PDF; bodies are HTML, PDF or
  text/plain.
"""

from __future__ import annotations

import datetime as dt
import gzip
import hashlib
import json
import os
import shutil
from typing import Dict, Iterable, List, Sequence, Tuple

import numpy as np

# --- text generator --------------------------------------------------------

FUNCTION_WORDS = ("the", "a", "and", "of", "to", "in", "is", "that", "for",
                  "it", "with", "as", "on", "was", "by", "at")
_FW_WEIGHTS = np.array([22, 10, 12, 12, 9, 8, 5, 4, 4, 3, 3, 3, 3, 2, 2, 2],
                       dtype=float)
_FW_WEIGHTS /= _FW_WEIGHTS.sum()
VOCAB_SIZE = 30_000
ZIPF_Q, ZIPF_S = 20.0, 1.0      # Zipf-Mandelbrot 1/(rank + q)^s
FUNCTION_SLOT_SHARE = 0.8       # share of slots that are "F C C", not "C"
_VOCAB_SEED = 20_261_017        # the vocabulary is fixed; seeds pick docs

_CONS = "bcdfghjklmnprstvwz"
_VOWS = "aeiou"
_CODAS = ("", "", "n", "r", "s", "l", "th")


def _build_vocab() -> Tuple[List[str], np.ndarray]:
    rng = np.random.default_rng(_VOCAB_SEED)
    seen = set(FUNCTION_WORDS)
    words: List[str] = []
    while len(words) < VOCAB_SIZE:
        n_syl = int(rng.integers(2, 4))
        w = "".join(_CONS[int(rng.integers(len(_CONS)))]
                    + _VOWS[int(rng.integers(len(_VOWS)))]
                    for _ in range(n_syl))
        w += _CODAS[int(rng.integers(len(_CODAS)))]
        if w not in seen:
            seen.add(w)
            words.append(w)
    weights = 1.0 / (np.arange(1, VOCAB_SIZE + 1) + ZIPF_Q) ** ZIPF_S
    return words, np.cumsum(weights / weights.sum())


_VOCAB: List[str] = []
_VOCAB_CDF = np.zeros(0)


def _vocab() -> Tuple[List[str], np.ndarray]:
    global _VOCAB, _VOCAB_CDF
    if not _VOCAB:
        _VOCAB, _VOCAB_CDF = _build_vocab()
    return _VOCAB, _VOCAB_CDF


class _Draws:
    """Bulk-drawn random integers consumed in order (one numpy call per
    pool instead of one per document)."""

    def __init__(self, rng: np.random.Generator, lo: int, hi: int,
                 size: int = 1 << 16):
        self._rng, self._lo, self._hi, self._size = rng, lo, hi, size
        self._pool = rng.integers(lo, hi, size=size)
        self._i = 0

    def next(self) -> int:
        if self._i == self._size:
            self._pool = self._rng.integers(self._lo, self._hi,
                                            size=self._size)
            self._i = 0
        self._i += 1
        return int(self._pool[self._i - 1])


def _token_docs(rng: np.random.Generator, slots: np.ndarray
                ) -> List[List[str]]:
    """Word sequences for many documents at once: each slot is ``F C C``
    (a function word and two content words) or a single ``C``."""
    vocab, cdf = _vocab()
    words = np.array(vocab + list(FUNCTION_WORDS), dtype=object)
    n = int(slots.sum())
    grid = np.empty((n, 3), dtype=np.int64)
    grid[:, 0] = VOCAB_SIZE + rng.choice(len(FUNCTION_WORDS), size=n,
                                         p=_FW_WEIGHTS)
    grid[:, 1:] = np.searchsorted(cdf, rng.random((n, 2)))
    keep = np.ones((n, 3), dtype=bool)
    keep[:, 0] = keep[:, 2] = rng.random(n) < FUNCTION_SLOT_SHARE
    per_slot = keep.sum(axis=1)
    flat = words[grid[keep]]
    ends = np.cumsum(np.add.reduceat(per_slot, np.r_[0, np.cumsum(
        slots)[:-1]]))
    return [list(flat[a:b]) for a, b in zip(np.r_[0, ends[:-1]], ends)]


def _sentences(lengths: _Draws, toks: Sequence[str]) -> List[str]:
    out: List[str] = []
    i = 0
    while i < len(toks):
        n = lengths.next()
        words = list(toks[i:i + n])
        words[0] = words[0].capitalize()
        out.append(" ".join(words) + ".")
        i += n
    return out


def _paragraphs(sizes: _Draws, sents: Sequence[str]) -> List[str]:
    out: List[str] = []
    i = 0
    while i < len(sents):
        n = sizes.next()
        out.append(" ".join(sents[i:i + n]))
        i += n
    return out


def _wrap(paragraphs: Sequence[str], width: int = 80) -> List[str]:
    lines: List[str] = []
    for para in paragraphs:
        cur = ""
        for w in para.split(" "):
            if cur and len(cur) + 1 + len(w) > width:
                lines.append(cur)
                cur = w
            else:
                cur = f"{cur} {w}" if cur else w
        if cur:
            lines.append(cur)
    return lines


# --- poison rows -------------------------------------------------------------

# Every POISON_EVERY-th row (from a seed-chosen offset) is unextractable,
# so each workload's failed share is exactly 1/POISON_EVERY. A poison
# PDF keeps only its header and catalog object: no content stream
# survives, so the parse must fail and flag the row.
POISON_EVERY = 200
POISON_BYTES = 64


def _poison(seed: int, n: int) -> np.ndarray:
    return np.arange(n) % POISON_EVERY == seed % POISON_EVERY


# --- crawl_chain: the WARC crawl --------------------------------------------

CRAWL_SHARES = {"exact_dup": 0.10, "near_dup": 0.10, "recapture": 0.02}
CRAWL_BODY_MIX = (("html", 0.5), ("pdf", 0.2), ("text", 0.3))
NEAR_DUP_EDIT = 0.02            # share of words replaced in a near dup
_NAV = ('<nav><a href="/">Home</a> <a href="/news">News</a> '
        '<a href="/about">About</a></nav>')
_FOOT = ('<footer>Copyright 2026 Example Publisher '
         '<a href="/privacy">Privacy</a></footer>')


def _render(kind: str, title: str, paragraphs: Sequence[str]) -> bytes:
    from pdf_extractor_spark.kernels import pdfgen
    if kind == "text":
        return "\n\n".join(paragraphs).encode("utf-8")
    if kind == "pdf":
        return pdfgen.simple_pdf(_wrap(paragraphs))
    body = "\n".join(f"<p>{p}</p>" for p in paragraphs)
    return (f"<!DOCTYPE html><html><head><title>{title}</title></head>"
            f"<body>{_NAV}<main><h1>{title}</h1>\n{body}</main>{_FOOT}"
            f"</body></html>").encode("utf-8")


_CTYPES = {"html": "text/html", "pdf": "application/pdf",
           "text": "text/plain"}


def _exact_counts(shares: Sequence[float], n: int) -> np.ndarray:
    """Labels 0..len(shares)-1 with ``round(share * n)`` of each, and
    label len(shares) for the rest."""
    counts = [int(round(p * n)) for p in shares]
    return np.repeat(np.arange(len(shares) + 1),
                     counts + [n - sum(counts)])


def crawl_records(seed: int, n_docs: int) -> List[Dict]:
    """``n_docs`` WARC response records as dicts
    (url, ts, kind, body, role). ``CRAWL_SHARES`` of the rows are
    duplicates of an earlier unique document (any that fall before the
    first unique one stay unique); every POISON_EVERY-th is poison."""
    rng = np.random.default_rng([seed, 1])
    base = dt.datetime(2026, 3, 1, tzinfo=dt.timezone.utc)
    kinds = [k for k, _ in CRAWL_BODY_MIX]
    vocab, cdf = _vocab()
    # exact role and body-kind counts, in a seeded order, so that seeds
    # differ in content and order but not in how much of each there is
    roles = rng.permutation(_exact_counts(
        list(CRAWL_SHARES.values()), n_docs))
    kind_of = rng.permutation(_exact_counts(    # the last kind takes the rest
        [p for _, p in CRAWL_BODY_MIX[:-1]], n_docs))
    poison = _poison(seed, n_docs)
    hosts = rng.integers(0, 400, size=n_docs)
    picks = rng.random(n_docs)
    docs = _token_docs(rng, rng.integers(40, 90, size=n_docs))
    lengths, sizes = _Draws(rng, 8, 17), _Draws(rng, 3, 6)
    uniques: List[int] = []          # indices of unique docs (dup sources)
    recs: List[Dict] = []
    for i in range(n_docs):
        role = (list(CRAWL_SHARES)[roles[i]]
                if roles[i] < len(CRAWL_SHARES) and uniques else "unique")
        if poison[i]:
            role = "poison"
        ts = base + dt.timedelta(seconds=37 * i)
        url = f"https://site{hosts[i]:03d}.example/a/{seed}/{i:07d}"
        src = uniques[int(picks[i] * len(uniques))] if uniques else i
        if role in ("exact_dup", "recapture"):
            recs.append({"url": recs[src]["url"] if role == "recapture"
                         else url, "ts": ts, "kind": recs[src]["kind"],
                         "body": recs[src]["body"], "role": role})
            continue
        if role == "poison":
            pdf = _render("pdf", "x", ["Truncated capture body."])
            recs.append({"url": url, "ts": ts, "kind": "pdf",
                         "body": pdf[:POISON_BYTES], "role": role})
            continue
        words, kind = docs[i], kinds[kind_of[i]]
        if role == "near_dup":
            words, kind = list(docs[src]), recs[src]["kind"]
            for j in np.flatnonzero(rng.random(len(words)) < NEAR_DUP_EDIT):
                words[j] = vocab[int(np.searchsorted(cdf, rng.random()))]
        paras = _paragraphs(sizes, _sentences(lengths, words))
        title = " ".join(words[:4]).capitalize()
        recs.append({"url": url, "ts": ts, "kind": kind,
                     "body": _render(kind, title, paras), "role": role})
        if role == "unique":
            uniques.append(i)
    return recs


def warc_bytes(recs: Iterable[Dict]) -> bytes:
    """Uncompressed WARC stream through the program's own record writer."""
    from pdf_extractor_spark.sources.warc import format_record
    return b"".join(
        format_record(r["url"], r["ts"].strftime("%Y-%m-%dT%H:%M:%SZ"),
                      r["body"], _CTYPES[r["kind"]]) for r in recs)


def write_crawl(out_dir: str, recs: Sequence[Dict], n_files: int) -> None:
    """``n_files`` deterministic ``.warc.gz`` files (mtime-free gzip)."""
    os.makedirs(out_dir, exist_ok=True)
    for f in range(n_files):
        data = warc_bytes(recs[f::n_files])
        with open(os.path.join(out_dir, f"part-{f:03d}.warc.gz"),
                  "wb") as fh:
            fh.write(gzip.compress(data, compresslevel=6, mtime=0))


# --- text_raw: payload-less text rows ---------------------------------------

NON_ASCII_SHARE = 0.10
_NON_ASCII = (
    "café déjà naïve",       # combining marks
    "中文段落内容",          # CJK
    "مرحبا שלום",  # RTL
    "cafÃ© dÃ©jÃ  vu â€” naÃ¯ve",                   # mojibake
    "über Straße æther cœur",
)


def text_rows(seed: int, n_rows: int) -> List[Dict]:
    """Rows of the pages schema with ``html`` null and text set."""
    rng = np.random.default_rng([seed, 2])
    base = dt.datetime(2026, 4, 1, tzinfo=dt.timezone.utc)
    kind = rng.random(n_rows)
    empty = _poison(seed, n_rows)
    hosts = rng.integers(0, 64, size=n_rows)
    docs = _token_docs(rng, rng.integers(15, 40, size=n_rows))
    marks = rng.integers(0, 1 << 30, size=(n_rows, 3))
    lengths = _Draws(rng, 8, 17)
    rows: List[Dict] = []
    for i in range(n_rows):
        text = None
        if not empty[i]:
            words = docs[i]
            if kind[i] < NON_ASCII_SHARE:
                for m in marks[i]:
                    words[m % len(words)] = _NON_ASCII[m % len(_NON_ASCII)]
            sents = _sentences(lengths, words)
            text = "\n".join(" ".join(sents[j:j + 3])
                             for j in range(0, len(sents), 3))
        rows.append({"url": f"https://text{hosts[i]:02d}.example/t/"
                            f"{seed}/{i:07d}",
                     "warc_ts": base + dt.timedelta(seconds=11 * i),
                     "html": None, "text": text, "lang": "en"})
    return rows


# --- extract_full: the program's synthetic pages -----------------------------

def pages_rows(seed: int, n_rows: int) -> List[Dict]:
    """The program's nine-class pages; every POISON_EVERY-th payload is
    cut to a PDF's first POISON_BYTES (each such row must come back with
    a failure_reason)."""
    from pdf_extractor_spark.sources.pages import build_pages_records
    rows = build_pages_records(n_rows, seed=seed)
    for row, poison in zip(rows, _poison(seed, n_rows)):
        if poison:
            body = row["html"]
            if not body.startswith(b"%PDF-"):
                from pdf_extractor_spark.kernels import pdfgen
                body = pdfgen.simple_pdf(["Truncated capture body."])
            row["html"] = body[:POISON_BYTES]
            row["text"] = None
    return rows


# --- fingerprints and the cache ---------------------------------------------

def _feed(h, value) -> None:
    if value is None:
        h.update(b"\x00N")
        return
    if isinstance(value, str):
        value = value.encode("utf-8")
    elif isinstance(value, dt.datetime):
        value = value.isoformat().encode("ascii")
    elif not isinstance(value, (bytes, bytearray)):
        value = repr(value).encode("utf-8")
    h.update(b"\x01" + len(value).to_bytes(8, "little") + bytes(value))


PAGE_KEYS = ("url", "warc_ts", "html", "text", "lang")
CRAWL_KEYS = ("url", "ts", "kind", "body")


def fingerprint(workload: str, rows: Sequence[Dict]) -> str:
    """sha256 over every generated field of the rows, length-prefixed."""
    h = hashlib.sha256()
    for row in rows:
        for k in (CRAWL_KEYS if workload == "crawl_chain" else PAGE_KEYS):
            _feed(h, row[k])
    return h.hexdigest()


def generate(workload: str, seed: int, n: int) -> List[Dict]:
    if workload == "extract_full":
        return pages_rows(seed, n)
    if workload == "text_raw":
        return text_rows(seed, n)
    if workload == "crawl_chain":
        return crawl_records(seed, n)
    raise ValueError(f"unknown workload {workload!r}")


def expected_failures(workload: str, rows: Sequence[Dict]) -> int:
    """Rows the generator made unextractable."""
    if workload == "crawl_chain":
        return sum(1 for r in rows if r["role"] == "poison")
    if workload == "text_raw":
        return sum(1 for r in rows if not r["text"])
    return sum(1 for r in rows
               if r["html"] is not None and len(r["html"]) == POISON_BYTES)


def write_pages(path: str, rows: Sequence[Dict], n_files: int) -> None:
    """The pages schema of ``sources.pages`` as ``n_files`` parquet files."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    schema = pa.schema([("url", pa.string()),
                        ("warc_ts", pa.timestamp("us", tz="UTC")),
                        ("html", pa.binary()), ("text", pa.string()),
                        ("lang", pa.string())])
    os.makedirs(path, exist_ok=True)
    for f in range(n_files):
        part = rows[f::n_files]
        pq.write_table(
            pa.table({k: [r[k] for r in part] for k in PAGE_KEYS},
                     schema=schema),
            os.path.join(path, f"part-{f:03d}.parquet"))


def _tree_sha(path: str) -> str:
    h = hashlib.sha256()
    for root, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(root, name)
            h.update(os.path.relpath(p, path).encode("utf-8"))
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def materialize(cache_root: str, workload: str, seed: int, n: int,
                n_files: int, key_salt: str) -> Dict:
    """Generate (or reuse) the workload's input on disk.

    Returns the cache record: ``dir`` (parquet pages or ``.warc.gz``
    files), ``fingerprint`` (of the generated rows), ``rows``,
    ``expected_failures``, ``input_bytes`` and ``generated`` (False on a
    cache hit). A cached entry whose file hash no longer matches is
    regenerated, never used."""
    key = hashlib.sha256(
        f"{workload}|{seed}|{n}|{n_files}|{key_salt}".encode()).hexdigest()
    entry = os.path.join(cache_root, f"{workload}-{seed}-{key[:16]}")
    meta_path = os.path.join(entry, "meta.json")
    data_dir = os.path.join(entry, "data")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            meta = json.load(fh)
        if _tree_sha(data_dir) == meta["tree_sha"]:
            return {**meta, "dir": data_dir, "generated": False}
    shutil.rmtree(entry, ignore_errors=True)
    rows = generate(workload, seed, n)
    tmp = entry + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp_data = os.path.join(tmp, "data")
    if workload == "crawl_chain":
        write_crawl(tmp_data, rows, n_files)
    else:
        write_pages(tmp_data, rows, n_files)
    meta = {"workload": workload, "seed": seed, "rows": len(rows),
            "fingerprint": fingerprint(workload, rows),
            "expected_failures": expected_failures(workload, rows),
            "input_bytes": sum(os.path.getsize(os.path.join(tmp_data, f))
                               for f in os.listdir(tmp_data)),
            "tree_sha": _tree_sha(tmp_data)}
    with open(os.path.join(tmp, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, entry)
    return {**meta, "dir": data_dir, "generated": True}
