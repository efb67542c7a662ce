"""Registry reach: every package module is reached from a registered query
or named here on purpose."""

from __future__ import annotations

import ast
import os

from hbase_observer_es_spark.registry import _MODULES

PKG = "hbase_observer_es_spark"
PKG_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), PKG)

# Package modules outside the registry's import closure that stay on purpose:
# the reference's sync wire layer, the plan inspector behind
# tools/plan_audit.py, and astdeps behind tools/bench_adjudicate.py and the
# quadratic-Jaccard fence in test_plans.py.
KEEP_UNREGISTERED = {
    "sinks/es_bulk.py",
    "sinks/es_bulk_response.py",
    "sinks/staging.py",
    "sources/config.py",
    "sources/hbase_rest.py",
    "sources/jsonl.py",
    "plans/__init__.py",
    "plans/inspect.py",
    "astdeps.py",
}


# Unregistered modules still covered by their own tests, to be deleted with
# those tests in later changes (ROADMAP direction 3): the format zoo and the
# verification-order policy behind tools/rotate_priority.py. Nothing new may
# join this set.
PENDING_DELETION = {
    "operators/aes.py",
    "operators/agl.py",
    "operators/audiohash.py",
    "operators/binpack.py",
    "operators/bpe.py",
    "operators/cfb.py",
    "operators/doc_text.py",
    "operators/exif.py",
    "operators/flac.py",
    "operators/frontier.py",
    "operators/heifmeta.py",
    "operators/imagehash.py",
    "operators/linededup.py",
    "operators/lz4.py",
    "operators/lzfu.py",
    "operators/markdown_text.py",
    "operators/media_census.py",
    "operators/mp3meta.py",
    "operators/mp4meta.py",
    "operators/msg_text.py",
    "operators/notebook.py",
    "operators/office_text.py",
    "operators/oggmeta.py",
    "operators/ooxml_crypto.py",
    "operators/pdf_text.py",
    "operators/ppt_text.py",
    "operators/rc4.py",
    "operators/robots.py",
    "operators/rtf_text.py",
    "operators/seqpack.py",
    "operators/sitemap.py",
    "operators/subtitles.py",
    "operators/textcodec.py",
    "operators/vp8l_enc.py",
    "operators/wav.py",
    "operators/xls_text.py",
    "rotation.py",
    "sinks/compact.py",
    "sinks/dataset_export.py",
    "sinks/wds.py",
    "sinks/wet.py",
    "sources/avrosrc.py",
    "sources/csvsrc.py",
    "sources/mailsrc.py",
    "sources/orcsrc.py",
    "sources/rawtext.py",
    "sources/sqlitesrc.py",
    "sources/tarsrc.py",
    "sources/warc_cdx.py",
    "sources/zipsrc.py",
}


def _module_file(mod: str) -> str | None:
    base = os.path.join(PKG_DIR, *mod.split(".")[1:])
    for cand in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(cand):
            return cand
    return None


def _imported(mod: str, path: str) -> set[str]:
    """In-package module names ``mod`` imports: absolute and relative, with
    ``from X import name`` counted as both X and the candidate X.name."""
    parts = mod.split(".")
    package = parts if path.endswith("__init__.py") else parts[:-1]
    out = set()
    for node in ast.walk(ast.parse(open(path).read(), path)):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package[: len(package) - node.level + 1]
                src = ".".join(base + ([node.module] if node.module else []))
            else:
                src = node.module or ""
            out.add(src)
            out.update(f"{src}.{a.name}" for a in node.names)
    return {m for m in out if m == PKG or m.startswith(PKG + ".")}


def _registry_closure() -> set[str]:
    """Files reached by importing every registered module."""
    seen: set[str] = set()
    todo = [*_MODULES, f"{PKG}.registry"]
    while todo:
        mod = todo.pop()
        parts = mod.split(".")
        todo.extend(".".join(parts[:i]) for i in range(1, len(parts)))
        path = _module_file(mod)
        if path is None or path in seen:
            continue
        seen.add(path)
        todo.extend(_imported(mod, path))
    return {os.path.relpath(p, PKG_DIR) for p in seen}


def test_every_package_module_is_registered_or_kept():
    files = {
        os.path.relpath(os.path.join(root, f), PKG_DIR)
        for root, _, names in os.walk(PKG_DIR)
        for f in names
        if f.endswith(".py")
    }
    reached = _registry_closure()
    assert reached <= files
    named = KEEP_UNREGISTERED | PENDING_DELETION
    assert named <= files
    assert not named & reached, "named module is now registered"
    assert sorted(files - reached - named) == []
