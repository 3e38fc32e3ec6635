"""The per-corpus artifact memo (``storage.artifact``).

Every corpus-derived artifact is memoized in one place, keyed by
(applicationId, corpus content fingerprint, name). These tests pin that a
corpus regenerated at the same path gets fresh artifacts, and that no
module grows its own memo dict beside that layer.
"""

from __future__ import annotations

import ast
import glob
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from tests.conftest import REPO_ROOT


def _copy_corpus(src: str, dst: str) -> str:
    os.makedirs(dst)
    for name in os.listdir(src):
        if name.endswith(".parquet"):
            shutil.copyfile(os.path.join(src, name), os.path.join(dst, name))
    return dst


def _drop_every_third_doc(corpus: str) -> None:
    """Rewrite documents.parquet in place without the doc_id % 3 = 0 docs.
    That removes training docs of both artifacts under test (the NB model
    and the Bloom benchmark set both read doc_id % 50 = 0)."""
    path = os.path.join(corpus, "documents.parquet")
    t = pq.read_table(path)
    keep = pa.array([d % 3 != 0 for d in t["doc_id"].to_pylist()])
    tmp = path + ".tmp"
    pq.write_table(t.filter(keep), tmp)
    os.replace(tmp, path)


def _nb_view(model: dict):
    return (
        model["cls"],
        model["docs_total"],
        model["v"],
        sorted(tuple(r) for r in model["wc"].collect()),
    )


def test_regenerated_corpus_gets_fresh_artifacts(spark, sf_dir, tmp_path):
    """A corpus rewritten at the same path must not get the old models
    back: the memo key covers the corpus content, not its path."""
    from streamprocessors_spark.plans.llm_ops import _bloom_bits, _nb_trained

    corpus = _copy_corpus(sf_dir, str(tmp_path / "corpus"))
    bits_old = _bloom_bits(spark, corpus)
    nb_old = _nb_view(_nb_trained(spark, corpus))

    _drop_every_third_doc(corpus)
    fresh = _copy_corpus(corpus, str(tmp_path / "fresh"))
    bits_fresh = _bloom_bits(spark, fresh)
    nb_fresh = _nb_view(_nb_trained(spark, fresh))
    # the rewrite changes both artifacts, so a stale hit would show
    assert bits_fresh != bits_old
    assert nb_fresh != nb_old

    assert _bloom_bits(spark, corpus) == bits_fresh
    assert _nb_view(_nb_trained(spark, corpus)) == nb_fresh


def test_regenerated_corpus_evicts_its_stale_artifacts(sf_dir, tmp_path, monkeypatch):
    """Rebuilding after a corpus is rewritten in place leaves one memo
    entry under the artifact's name: the earlier fingerprint's entry (a
    pinned frame, for some artifacts) is dropped, not kept until the
    session stops."""
    from types import SimpleNamespace

    from streamprocessors_spark import storage

    # an empty memo, so the live test session's artifacts survive
    monkeypatch.setattr(storage, "_ARTIFACTS", {})
    session = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app"))
    corpus = _copy_corpus(sf_dir, str(tmp_path / "corpus"))
    other = _copy_corpus(sf_dir, str(tmp_path / "other"))
    assert storage.artifact(session, corpus, "model", lambda: "v1") == "v1"
    assert storage.artifact(session, other, "probe", lambda: "o1") == "o1"

    _drop_every_third_doc(corpus)
    assert storage.artifact(session, corpus, "model", lambda: "v2") == "v2"
    held = [v for k, v in storage._ARTIFACTS.items() if k[-1] == "model"]
    assert held == ["v2"]
    # another corpus's entries are not stale fingerprints of this one
    assert storage.artifact(session, other, "probe", lambda: "o2") == "o1"


#: module-level empty containers that are not memos: the query registry,
#: the ES-processor registry, and the artifact memo itself
_ALLOWED_MODULE_CONTAINERS = {
    ("plans/registry.py", "REGISTRY"),
    ("operators/es_procs.py", "_REGISTRY"),
    ("storage.py", "_ARTIFACTS"),
}


def _is_empty_container(node: ast.expr) -> bool:
    if isinstance(node, ast.Dict):
        return not node.keys
    if isinstance(node, ast.List):
        return not node.elts
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id in ("set", "dict")
        and not node.args
        and not node.keywords
    )


def _module_statements(body):
    """Statements that run at import time: the module body, descending
    into if/try/with/for blocks but not into functions or classes."""
    for node in body:
        yield node
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            continue
        for field in ("body", "orelse", "finalbody", "handlers"):
            yield from _module_statements(getattr(node, field, []))


def test_no_module_level_memo_containers():
    """Per-corpus state lives in storage.artifact; a new module-level
    empty dict/list/set is a hand-rolled memo beside it."""
    pkg = os.path.join(REPO_ROOT, "streamprocessors_spark")
    found = []
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, pkg).replace(os.sep, "/")
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        for node in _module_statements(tree.body):
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign) and node.value is not None:
                targets, value = [node.target], node.value
            else:
                continue
            if not _is_empty_container(value):
                continue
            for t in targets:
                name = ast.unparse(t)
                if (rel, name) not in _ALLOWED_MODULE_CONTAINERS:
                    found.append(f"{rel}:{node.lineno} {name}")
    assert found == [], found


def test_directory_swaps_live_in_storage():
    """Rewriting a parquet directory is storage.replace_dir's (or
    write_store's) job; an os.rename anywhere else is a second copy of
    the swap beside it."""
    pkg = os.path.join(REPO_ROOT, "streamprocessors_spark")
    found = []
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, pkg).replace(os.sep, "/")
        if rel == "storage.py":
            continue
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        found += [
            f"{rel}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Call) and ast.unparse(node.func) == "os.rename"
        ]
    assert found == [], found
