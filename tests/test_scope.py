"""Query-scoped lifetime: every persist and local checkpoint goes through
``usda_food_data_pipeline_spark.scope``, and a registered query frees
what it acquired — on the next query's open, or when its build raises."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

from usda_food_data_pipeline_spark import registry, scope
from usda_food_data_pipeline_spark.sources.tables import load_table

# DataFrame methods that acquire or free storage blocks
_STORAGE_CALLS = {"persist", "cache", "localCheckpoint", "checkpoint", "unpersist"}


def test_every_persist_goes_through_the_scope():
    pkg = Path(scope.__file__).parent
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        if path == Path(scope.__file__):
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                continue
            via_scope = isinstance(node.func.value, ast.Name) and node.func.value.id == "scope"
            if node.func.attr in _STORAGE_CALLS and not via_scope:
                offenders.append(f"{path.relative_to(pkg)}:{node.lineno} .{node.func.attr}(")
    assert not offenders, offenders


def test_failed_build_releases_what_it_acquired(spark, sf_dir, persistent_rdd_ids, monkeypatch):
    """ADVICE r12 low 3: triangle_count persists its edge list and the
    oriented edges, then checkpoints the 1-row result. When that
    checkpoint raises inside the registered query, the scope frees both
    caches before the error reaches the caller."""
    query = registry.queries()["triangle_count"]
    frame_cls = type(spark.range(1))
    before = persistent_rdd_ids()
    filled: list[set[int]] = []

    def failing_checkpoint(self, *args, **kwargs):
        self.collect()  # the job the checkpoint would run fills both caches
        filled.append(persistent_rdd_ids() - before)
        raise RuntimeError("injected checkpoint failure")

    monkeypatch.setattr(frame_cls, "localCheckpoint", failing_checkpoint)
    with pytest.raises(RuntimeError, match="injected checkpoint failure"):
        query(spark, sf_dir)
    assert filled and len(filled[0]) >= 2, filled
    assert not (persistent_rdd_ids() - before)


def test_bpe_train_keeps_storage_flat(spark, sf_dir, persistent_rdd_ids):
    """bpe_train checkpoints its word table once per merge round. Each
    superseded round is released as the next one lands, and the last
    once the merge table is built, so no generation waits for GC."""
    from usda_food_data_pipeline_spark.functions.bpe import bpe_train

    docs = load_table(spark, sf_dir, "documents")
    before = persistent_rdd_ids(checkpointed_only=True)
    rules = bpe_train(docs, "text", n_merges=6, min_count=2)
    assert len(rules) >= 2
    assert not (persistent_rdd_ids(checkpointed_only=True) - before)
