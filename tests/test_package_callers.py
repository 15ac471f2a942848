"""Every top-level function and class in the package has a production
caller. A name-reference scan (no Spark session): a package name that
only ``tests/`` references is a second path the engine does not run,
and a name that nothing references is dead code. Production callers are
the package itself, ``scripts/``, ``bench.py``, ``__spark_entry__.py``
and perfbench's non-test files.

``KEEP`` lists the names that stay without a production caller, each
with its reason. An entry that gains a caller or leaves the package
fails too, so the list cannot go stale."""

from __future__ import annotations

import ast
import fnmatch
import os

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = os.path.join(_ROOT, "developing_img_etl_spark")

KEEP = {
    "HttpTransport": "the paper's GitHub sink: the real network transport of the REST upsert",
    "start_incremental_append": "the streaming append of new photos into the catalog",
    "read_photo_stream": "the streaming append's file source",
    "write_bucketed": "bucketed tables: written once, joined without an exchange",
    "bucketed_join": "bucketed tables: the exchange-free join",
    "write_training_shards": "training shards, the pipeline's training-data output",
    "audio_frame_energy": "the AV family's feature-extract step, which SURVEY names",
    "hash_sample": "the deterministic hash sample, a sampling primitive",
    "brute_force_topk": "the exact reference that the ANN recall tests rank against",
    "decode_video": "the container-table decoder that the video tests check frames with",
    "make_fake_*": "fixtures that build synthetic media for the codec tests",
    "bmp_encoded_size": "the BMP size formula that the oracles' SQL arithmetic mirrors",
    "hamming64": "the pHash distance the image-dedup tests measure with",
    "with_partition_keys": "reads the reference's kode_proyek/minggu/file layout back",
}


def _py_files(top: str, *, tests: bool | None = None) -> list[str]:
    out = []
    for dirpath, dirnames, filenames in os.walk(top):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        for f in filenames:
            if f.endswith(".py") and (tests is None or f.startswith("test_") == tests):
                out.append(os.path.join(dirpath, f))
    return out


def _references(path: str) -> set[str]:
    tree = ast.parse(open(path, encoding="utf-8").read(), filename=path)
    refs: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            refs.add(node.id)
        elif isinstance(node, ast.Attribute):
            refs.add(node.attr)
        elif isinstance(node, ast.ImportFrom):
            refs.update(alias.name for alias in node.names)
    return refs


def _definitions() -> dict[str, str]:
    """Top-level function and class names of the package (the vendored
    shim excluded) → the file that defines them."""
    defs: dict[str, str] = {}
    for path in _py_files(_PKG):
        if os.sep + "vendor" + os.sep in path:
            continue
        tree = ast.parse(open(path, encoding="utf-8").read(), filename=path)
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[node.name] = os.path.relpath(path, _ROOT)
    return defs


def _production_files() -> list[str]:
    return (
        _py_files(_PKG)
        + _py_files(os.path.join(_ROOT, "scripts"))
        + _py_files(os.path.join(_ROOT, "perfbench"), tests=False)
        + [os.path.join(_ROOT, "bench.py"), os.path.join(_ROOT, "__spark_entry__.py")]
    )


def _uncalled() -> dict[str, str]:
    prod = set().union(*map(_references, _production_files()))
    return {name: path for name, path in _definitions().items() if name not in prod}


def test_every_package_name_has_a_production_caller():
    extra = {
        name: path for name, path in _uncalled().items()
        if not any(fnmatch.fnmatchcase(name, pattern) for pattern in KEEP)
    }
    assert extra == {}, (
        "package names with no production caller (delete them, or add a "
        f"KEEP entry with its reason): {extra}"
    )


def test_keep_list_names_only_uncalled_package_names():
    uncalled = _uncalled()
    stale = [p for p in KEEP if not any(fnmatch.fnmatchcase(n, p) for n in uncalled)]
    assert stale == []
