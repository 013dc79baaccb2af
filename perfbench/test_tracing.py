"""Tests for the span wrappers: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import contextlib
import os
import sys
import types

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import tracing  # noqa: E402

LAYER = "fakepkg_perfbench.sources.io"
USER = "fakepkg_perfbench.registry.dedup"


@pytest.fixture
def fake_engine(monkeypatch):
    """A layer module and a registry module that imported its function by
    name at import time, as ``from ... import checkpoint_partitioned`` does."""
    layer = types.ModuleType(LAYER)
    exec(
        "import contextlib\n"
        "def checkpoint_partitioned(x):\n"
        "    return helper(x) + 1\n"
        "def helper(x):\n"
        "    return x * 2\n"
        "def _private(x):\n"
        "    return x\n"
        "@contextlib.contextmanager\n"
        "def scoped():\n"
        "    yield 'inside'\n",
        layer.__dict__,
    )
    user = types.ModuleType(USER)
    user.checkpoint_partitioned = layer.checkpoint_partitioned
    user._private = layer._private
    for m in (layer, user):
        monkeypatch.setitem(sys.modules, m.__name__, m)
    monkeypatch.setattr(tracing, "PACKAGE", "fakepkg_perfbench")
    monkeypatch.setattr(tracing, "LAYER_MODULES", {"io": LAYER})
    return layer, user


def test_wrappers_replace_names_bound_at_import(fake_engine):
    layer, user = fake_engine
    original = layer.checkpoint_partitioned
    rec = tracing.Recorder()
    # checkpoint_partitioned in both modules, helper and scoped in the layer.
    assert rec.install() == 4
    rec.trace_id = "p0:q"
    assert user.checkpoint_partitioned(3) == 7
    names = [(s["name"], s["trace"]) for s in rec.spans]
    assert names == [("io.checkpoint_partitioned", "p0:q"), ("io.helper", "p0:q")]
    assert rec.spans[1]["parent"] == rec.spans[0]["id"]
    assert all(s["end"] >= s["start"] for s in rec.spans)
    assert user._private is layer._private  # private names stay untouched
    rec.uninstall()
    assert user.checkpoint_partitioned is original
    assert layer.checkpoint_partitioned is original


def test_context_manager_span_covers_the_block(fake_engine):
    layer, _ = fake_engine
    rec = tracing.Recorder()
    rec.install()
    with layer.scoped() as value:
        assert rec.spans[-1]["end"] is None  # still open inside the block
    assert value == "inside"
    assert rec.spans[-1]["name"] == "io.scoped" and rec.spans[-1]["end"] is not None
    rec.uninstall()


def test_span_closes_when_the_call_raises(fake_engine):
    layer, _ = fake_engine
    rec = tracing.Recorder()
    rec.install()
    with pytest.raises(TypeError):
        layer.helper()
    assert rec.spans[-1]["end"] is not None
    with rec.span("after", "x") as s:
        assert s["parent"] is None  # the failed span left the stack
    rec.uninstall()
