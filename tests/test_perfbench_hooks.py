"""The benchmark's traced run wraps engine functions by name
(``perfbench/benchlib/traced.py::install``), so a rename in the engine
breaks ``--trace 1`` only when that run starts. This checks every wrapped
name without starting Spark."""

from pathlib import Path


class RecordingTracer:
    def __init__(self):
        self.wrapped = []

    def wrap(self, module, attr):
        self.wrapped.append((module, attr))


def test_every_traced_name_exists_and_is_callable(monkeypatch):
    monkeypatch.syspath_prepend(str(Path(__file__).resolve().parents[1] / "perfbench"))
    from benchlib import traced

    tracer = RecordingTracer()
    traced.install(tracer)
    assert tracer.wrapped
    missing = [f"{module.__name__}.{attr}" for module, attr in tracer.wrapped
               if not callable(getattr(module, attr, None))]
    assert missing == []
