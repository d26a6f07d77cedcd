"""Tracing wraps layer entry points and puts every one of them back."""

import types

from perfbench.trace import Tracer, install_layer_wrappers


class Base:
    def inherited(self, x):
        return x + 1


class Child(Base):
    def own(self, x):
        return x * 2


def test_wrap_records_nested_spans_and_restores():
    mod = types.ModuleType("fake_layer")
    mod.outer = lambda: mod.inner() + 1
    mod.inner = lambda: 41
    originals = (mod.outer, mod.inner, Child.__dict__["own"])
    tr = Tracer()
    tr.wrap(mod, "outer", "outer")
    tr.wrap(mod, "inner", "inner")
    tr.wrap(Child, "own", "own")
    tr.wrap(Child, "inherited", "inherited")
    assert mod.outer() == 42
    assert Child().own(3) == 6 and Child().inherited(3) == 4
    tr.restore()
    names = [s["name"] for s in tr.spans]
    assert names == ["outer", "inner", "own", "inherited"]
    assert tr.spans[1]["parent"] == tr.spans[0]["id"]
    assert tr.spans[0]["parent"] is None
    assert all(s["end"] >= s["start"] for s in tr.spans)
    assert (mod.outer, mod.inner, Child.__dict__["own"]) == originals
    assert "inherited" not in Child.__dict__


def test_wrap_restores_even_when_the_call_raises():
    mod = types.ModuleType("fake_layer")

    def boom():
        raise RuntimeError("x")

    mod.boom = boom
    tr = Tracer()
    tr.wrap(mod, "boom", "boom")
    try:
        mod.boom()
    except RuntimeError:
        pass
    tr.restore()
    assert mod.boom is boom and tr.spans[0]["end"] is not None


def test_layer_wrappers_are_all_restored():
    from silkworm_spark.operators import middleware, retry
    from silkworm_spark.plans import engine
    from silkworm_spark.plans.bloom import BloomTable
    from silkworm_spark.plans.checkpoint import CrawlCheckpoint, PendingCommit

    def snapshot():
        return (dict(vars(engine)), dict(vars(retry)), dict(vars(middleware)),
                dict(vars(BloomTable)), dict(vars(CrawlCheckpoint)),
                dict(vars(PendingCommit)))

    before = snapshot()
    tr = Tracer()
    install_layer_wrappers(tr)
    assert engine.dequeue_round is not before[0]["dequeue_round"]
    assert BloomTable.maybe_hashes is not before[3]["maybe_hashes"]
    tr.restore()
    assert snapshot() == before
