"""Seeded workload generator: corpus files, refresh edit script, query pool.

Everything is derived from one ``numpy`` generator seeded with the workload
seed, in a single process, so the same seed always yields byte-identical
files, edits and queries.

Corpus model:

- ``N_TOPICS`` topics, each with its own Zipf-ranked vocabulary, plus a
  shared Zipf-ranked common vocabulary; a document draws most of its words
  from its topic, so documents on one topic cluster in embedding space and
  topic-word queries have true neighbours;
- log-normal document length (words), split into paragraphs;
- files under ``DEPARTMENTS`` folders (a topic belongs to one department,
  with some cross-filing);
- format mix ~55% txt, ~30% html, ~15% docx (docx written with ``zipfile``);
- ~10% of files are renamed byte-for-byte copies of others.

Edit script: per refresh round, edit ~2% of live files (append a paragraph
carrying a unique marker word, or rewrite the whole text and add that
paragraph), add ~1% new files, remove ~0.5% of files.

Query pool: topic-word queries, each with its topic's home department (for
filtered ops); :func:`query_stream` orders them, with Zipf popularity or
without repeats.
"""

from __future__ import annotations

import io
import json
import os
import zipfile
from dataclasses import dataclass, field

import numpy as np

DEPARTMENTS = ("hr", "it", "finance", "legal", "sales", "ops", "eng", "facilities")
N_TOPICS = 16
TOPIC_VOCAB = 160
COMMON_VOCAB = 600
TOPIC_WORD_SHARE = 0.6
FORMATS = (("txt", 0.55), ("html", 0.30), ("docx", 0.15))
COPY_SHARE = 0.10
# per refresh round, shares of the live files
EDIT_SHARE = 0.02
ADD_SHARE = 0.01
REMOVE_SHARE = 0.005
PARA_WORDS = 60
BASE_MTIME = 1_700_000_000  # fixed epoch: mtimes are part of the input

# workload -> generator options (BENCHMARK.json says why each
# exists)
WORKLOADS = {
    # appended paragraphs leave earlier chunks byte-identical, and
    # Zipf-popular queries repeat: work a chunk- or query-level cache
    # could skip
    "append_repeat": {"edit_mode": "append", "query_zipf": 1.0},
    # whole-document rewrites and never-repeating queries: nothing to reuse
    "rewrite_distinct": {"edit_mode": "rewrite", "query_zipf": 0.0},
}

_SYLLABLES = [
    c + v
    for c in "bcdfghklmnprstvz"
    for v in ("a", "e", "i", "o", "u", "ai", "ou")
]


@dataclass
class Doc:
    """One source file: its relative path and the paragraphs it holds."""

    path: str  # relative to the corpus root, "<dept>/<name>.<ext>"
    topic: int
    paragraphs: list[str]
    mtime: int

    @property
    def fmt(self) -> str:
        return self.path.rsplit(".", 1)[1]


@dataclass
class Round:
    """One refresh round of the edit script."""

    # (path, appended paragraph, replacement paragraphs or None)
    edits: list[tuple[str, str, list[str] | None]] = field(default_factory=list)
    adds: list[Doc] = field(default_factory=list)
    removes: list[str] = field(default_factory=list)


@dataclass
class Workload:
    docs: list[Doc]
    rounds: list[Round]
    queries: list[dict]  # pool: {"text", "topic", "dept"}


def _zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def _make_words(rng: np.random.Generator, n: int, taken: set[str]) -> list[str]:
    out = []
    while len(out) < n:
        k = int(rng.integers(2, 5))
        w = "".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), k))
        if w not in taken:
            taken.add(w)
            out.append(w)
    return out


class _Corpus:
    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        taken: set[str] = set()
        self.common = _make_words(rng, COMMON_VOCAB, taken)
        self.topics = [_make_words(rng, TOPIC_VOCAB, taken) for _ in range(N_TOPICS)]
        self.common_p = _zipf_weights(COMMON_VOCAB, 1.05)
        self.topic_p = _zipf_weights(TOPIC_VOCAB, 0.9)
        self.next_id = 0

    def words(self, topic: int, n: int) -> list[str]:
        rng = self.rng
        from_topic = rng.random(n) < TOPIC_WORD_SHARE
        t_idx = rng.choice(TOPIC_VOCAB, size=n, p=self.topic_p)
        c_idx = rng.choice(COMMON_VOCAB, size=n, p=self.common_p)
        tw, cw = self.topics[topic], self.common
        return [tw[t] if ft else cw[c] for ft, t, c in zip(from_topic, t_idx, c_idx)]

    def new_doc(self, mtime: int) -> Doc:
        rng = self.rng
        topic = int(rng.integers(N_TOPICS))
        # a topic's home department, with ~20% cross-filed elsewhere
        dept = DEPARTMENTS[topic % len(DEPARTMENTS)]
        if rng.random() < 0.2:
            dept = DEPARTMENTS[int(rng.integers(len(DEPARTMENTS)))]
        n_words = int(np.clip(rng.lognormal(np.log(320), 0.6), 40, 2500))
        words = self.words(topic, n_words)
        paras = [
            " ".join(words[i : i + PARA_WORDS]) for i in range(0, n_words, PARA_WORDS)
        ]
        fmt = _pick_format(rng)
        doc_id = self.next_id
        self.next_id += 1
        name = f"{self.topics[topic][0]}-{doc_id:05d}.{fmt}"
        return Doc(f"{dept}/{name}", topic, paras, mtime)


def _pick_format(rng: np.random.Generator) -> str:
    r = rng.random()
    acc = 0.0
    for fmt, share in FORMATS:
        acc += share
        if r < acc:
            return fmt
    return FORMATS[-1][0]


def generate(
    seed: int,
    n_files: int,
    n_rounds: int = 0,
    n_queries: int = 0,
    edit_mode: str = "append",
) -> Workload:
    """Build the workload model for ``seed`` (no files are written).

    ``edit_mode`` "append" adds a paragraph to each edited file, so its
    earlier chunks stay byte-identical; "rewrite" replaces the whole text."""
    if edit_mode not in ("append", "rewrite"):
        raise ValueError(f"unknown edit_mode {edit_mode!r}")
    rng = np.random.default_rng(seed)
    corpus = _Corpus(rng)
    n_copies = int(round(n_files * COPY_SHARE))
    docs = [corpus.new_doc(BASE_MTIME + i) for i in range(n_files - n_copies)]
    originals = len(docs)
    for j in range(n_copies):
        src = docs[int(rng.integers(originals))]
        dept = DEPARTMENTS[int(rng.integers(len(DEPARTMENTS)))]
        name = f"copy{j:04d}-" + src.path.split("/", 1)[1]
        docs.append(Doc(f"{dept}/{name}", src.topic, list(src.paragraphs), src.mtime))

    rounds = []
    live = [d.path for d in docs]
    by_path = {d.path: d for d in docs}
    for r in range(n_rounds):
        rnd = Round()
        day = BASE_MTIME + (r + 1) * 86_400
        n_edit = max(1, int(round(len(live) * EDIT_SHARE)))
        n_rm = max(1, int(round(len(live) * REMOVE_SHARE)))
        picked = rng.choice(len(live), size=n_edit + n_rm, replace=False)
        for k, i in enumerate(picked):
            path = live[int(i)]
            if k < n_edit:
                doc = by_path[path]
                marker = f"zrev{r}q{k}"
                para = marker + " " + " ".join(corpus.words(doc.topic, PARA_WORDS))
                rewrite = None
                if edit_mode == "rewrite":
                    rewrite = [
                        " ".join(corpus.words(doc.topic, PARA_WORDS))
                        for _ in range(len(doc.paragraphs))
                    ]
                rnd.edits.append((path, para, rewrite))
            else:
                rnd.removes.append(path)
        removed = set(rnd.removes)
        live = [p for p in live if p not in removed]
        for _ in range(max(1, int(round(len(live) * ADD_SHARE)))):
            d = corpus.new_doc(day)
            rnd.adds.append(d)
            live.append(d.path)
            by_path[d.path] = d
        rounds.append(rnd)

    queries = []
    for _ in range(n_queries):
        topic = int(rng.integers(N_TOPICS))
        # head topic words: what a user would type for that topic
        n_terms = int(rng.integers(2, 4))
        idx = rng.choice(24, size=n_terms, replace=False)
        text = " ".join(corpus.topics[topic][int(i)] for i in idx)
        queries.append({"text": text, "topic": topic, "dept": DEPARTMENTS[topic % len(DEPARTMENTS)]})
    return Workload(docs, rounds, queries)


# -- file rendering ----------------------------------------------------------

_W = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"


def _xml_escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def render(doc: Doc) -> bytes:
    """File bytes for ``doc`` in its format. Every paragraph ends in a space
    so paragraph joins never glue two words together after text cleaning
    (which drops newlines)."""
    if doc.fmt == "txt":
        return " \n\n".join(doc.paragraphs).encode("utf-8") + b" \n"
    if doc.fmt == "html":
        body = "".join(f"<p>{_xml_escape(p)} </p>\n" for p in doc.paragraphs)
        title = doc.path.rsplit("/", 1)[1]
        return (
            f"<html><head><title>{title}</title></head><body>\n{body}</body></html>\n"
        ).encode("utf-8")
    paras = "".join(
        f'<w:p><w:r><w:t xml:space="preserve">{_xml_escape(p)} </w:t></w:r></w:p>'
        for p in doc.paragraphs
    )
    xml = (
        f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<w:document xmlns:w="{_W}"><w:body>{paras}</w:body></w:document>'
    )
    buf = io.BytesIO()
    # fixed member timestamps: the zip bytes must depend on the seed only
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, data in (
            ("[Content_Types].xml", _CONTENT_TYPES),
            ("_rels/.rels", _RELS),
            ("word/document.xml", xml),
        ):
            z.writestr(zipfile.ZipInfo(name, (2024, 1, 1, 0, 0, 0)), data)
    return buf.getvalue()


_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/word/document.xml" ContentType="application/'
    'vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>'
    "</Types>"
)
_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/'
    '2006/relationships/officeDocument" Target="word/document.xml"/>'
    "</Relationships>"
)


def write_doc(root: str, doc: Doc) -> int:
    """Write (or rewrite) one file with its recorded mtime; returns bytes."""
    path = os.path.join(root, doc.path)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    data = render(doc)
    with open(path, "wb") as f:
        f.write(data)
    os.utime(path, (doc.mtime, doc.mtime))
    return len(data)


def write_workload(root: str, wl: Workload) -> int:
    """Write the corpus under ``root/corpus`` and the edit script and query
    pool as JSON beside it. Returns corpus bytes written."""
    corpus_root = os.path.join(root, "corpus")
    total = sum(write_doc(corpus_root, d) for d in wl.docs)
    script = [
        {
            "edits": [list(e) for e in rnd.edits],
            "adds": [d.path for d in rnd.adds],
            "removes": rnd.removes,
        }
        for rnd in wl.rounds
    ]
    with open(os.path.join(root, "edit_script.json"), "w") as f:
        json.dump(script, f)
    with open(os.path.join(root, "query_pool.json"), "w") as f:
        json.dump(wl.queries, f)
    return total


def apply_round(corpus_root: str, wl: Workload, r: int) -> dict:
    """Apply refresh round ``r`` to the files on disk: append paragraphs,
    add files, remove files. Edited files get the round's mtime."""
    rnd = wl.rounds[r]
    by_path = {d.path: d for d in wl.docs}
    mtime = BASE_MTIME + (r + 1) * 86_400
    for path, para, rewrite in rnd.edits:
        doc = by_path[path]
        if rewrite is not None:
            doc.paragraphs = list(rewrite)
        doc.paragraphs.append(para)
        doc.mtime = mtime
        write_doc(corpus_root, doc)
    for d in rnd.adds:
        write_doc(corpus_root, d)
        wl.docs.append(d)
    removed = set(rnd.removes)
    for path in rnd.removes:
        os.remove(os.path.join(corpus_root, path))
    wl.docs = [d for d in wl.docs if d.path not in removed]
    return {"edited": [e[0] for e in rnd.edits], "added": [d.path for d in rnd.adds], "removed": rnd.removes}


def query_stream(seed: int, pool: int, length: int, zipf: float) -> list[int]:
    """Pool indices in request order. ``zipf > 0`` draws with Zipf
    popularity (popular queries repeat); ``zipf == 0`` walks a seeded
    permutation, so no query repeats within ``pool`` requests."""
    rng = np.random.default_rng([seed, 7])
    if zipf > 0:
        return [int(i) for i in rng.choice(pool, size=length, p=_zipf_weights(pool, zipf))]
    out: list[int] = []
    while len(out) < length:
        out.extend(int(i) for i in rng.permutation(pool))
    return out[:length]
