"""The workload generator is a pure function of its seed."""

import hashlib
import json
import os

from ragbench import gen
from vectordb_data_ingestion_spark.sources.ooxml import docx_to_text


def _tree_digest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.sha256(f.read()).hexdigest()
            if p.startswith(os.path.join(root, "corpus")):  # mtimes are input too
                out[os.path.relpath(p, root) + "#mtime"] = str(os.stat(p).st_mtime_ns)
    return out


def _write(tmp_path, name, seed, **kw):
    wl = gen.generate(seed, 60, n_rounds=2, n_queries=20, **kw)
    root = str(tmp_path / name)
    gen.write_workload(root, wl)
    for r in range(len(wl.rounds)):
        gen.apply_round(os.path.join(root, "corpus"), wl, r)
    return root


def test_same_seed_same_files_edits_and_queries(tmp_path):
    a = _tree_digest(_write(tmp_path, "a", 5))
    b = _tree_digest(_write(tmp_path, "b", 5))
    assert a == b
    assert "edit_script.json" in a and "query_pool.json" in a


def test_other_seed_other_inputs(tmp_path):
    a = _tree_digest(_write(tmp_path, "a", 5))
    b = _tree_digest(_write(tmp_path, "b", 6))
    assert a != b


def test_query_stream_is_seeded():
    assert gen.query_stream(3, 50, 200, 1.0) == gen.query_stream(3, 50, 200, 1.0)
    zipf = gen.query_stream(3, 50, 200, 1.0)
    assert len(set(zipf)) < len(zipf)  # popular queries repeat
    distinct = gen.query_stream(3, 50, 50, 0.0)
    assert sorted(distinct) == list(range(50))  # no repeats within the pool


def test_corpus_shape():
    wl = gen.generate(1, 400)
    fmts = [d.fmt for d in wl.docs]
    assert abs(fmts.count("txt") / 400 - 0.55) < 0.1
    assert abs(fmts.count("docx") / 400 - 0.15) < 0.07
    copies = [d for d in wl.docs if d.path.split("/", 1)[1].startswith("copy")]
    assert len(copies) == 40
    assert len({d.path for d in wl.docs}) == 400
    assert {d.path.split("/", 1)[0] for d in wl.docs} <= set(gen.DEPARTMENTS)


def test_docx_decodes_to_its_paragraphs():
    doc = gen.generate(2, 10).docs[0]
    doc = gen.Doc(doc.path.rsplit(".", 1)[0] + ".docx", doc.topic, doc.paragraphs, doc.mtime)
    text = docx_to_text(gen.render(doc))
    assert text.split() == " ".join(doc.paragraphs).split()


def test_rounds_follow_the_edit_script(tmp_path):
    wl = gen.generate(4, 200, n_rounds=1, edit_mode="append")
    root = str(tmp_path / "w")
    gen.write_workload(root, wl)
    corpus = os.path.join(root, "corpus")
    before = {d.path: list(d.paragraphs) for d in wl.docs}
    change = gen.apply_round(corpus, wl, 0)
    assert len(change["edited"]) == 4 and len(change["removed"]) == 1
    assert len(change["added"]) == 2
    after = {d.path: d for d in wl.docs}
    for path in change["edited"]:
        # append mode keeps every earlier paragraph
        assert after[path].paragraphs[:-1] == before[path]
        assert after[path].mtime > gen.BASE_MTIME + 400
    for path in change["removed"]:
        assert not os.path.exists(os.path.join(corpus, path))
    for path in change["added"]:
        assert os.path.exists(os.path.join(corpus, path))
    with open(os.path.join(root, "edit_script.json")) as f:
        assert [e[0] for e in json.load(f)[0]["edits"]] == change["edited"]
