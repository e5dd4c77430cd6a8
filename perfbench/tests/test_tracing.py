import threading
import types

from benchlib.tracing import Span, Tracer, covered, self_times


def span(i, start, end, parent=None):
    return Span(i, f"s{i}", f"s{i}", parent, "main", start, end)


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([(4, 4), (6, 5)], 0, 10) == 0


def test_self_time_subtracts_children_once():
    spans = [
        span(0, 0.0, 10.0),
        span(1, 1.0, 4.0, parent=0),
        span(2, 2.0, 6.0, parent=0),  # overlaps span 1: parallel children
        span(3, 2.5, 3.0, parent=1),  # grandchild: only its parent's business
    ]
    st = self_times(spans)
    assert st[0] == 10.0 - 5.0
    assert st[1] == 3.0 - 0.5
    assert st[2] == 4.0
    assert st[3] == 0.5


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        self.t += 1.0
        return self.t


def test_span_nesting_paths_and_parents():
    tr = Tracer(clock=FakeClock())
    with tr.span("a") as a:
        with tr.span("b") as b:
            pass
    assert (a.parent, b.parent) == (None, a.id)
    assert b.path == "a/b"
    assert a.duration == 3.0 and b.duration == 1.0
    assert self_times(tr.spans)[a.id] == 2.0


def test_helper_thread_spans_hang_under_open_main_span():
    tr = Tracer()
    with tr.span("root") as root:
        seen = []

        def work():
            with tr.span("worker") as s:
                seen.append(s)

        t = threading.Thread(target=work)
        t.start()
        t.join()
    assert seen[0].parent == root.id
    assert seen[0].path == "root/worker"


def test_wrap_records_calls_and_restore_unpatches():
    mod = types.ModuleType("pkg.layer")

    def fn(x):
        return x + 1

    fn.__module__ = "pkg.layer"
    mod.fn = fn
    tr = Tracer()
    tr.wrap(mod, "fn")
    assert mod.fn(1) == 2
    assert [s.name for s in tr.spans] == ["layer.fn"]
    tr.restore()
    assert mod.fn is fn


class FakeContext:
    def __init__(self):
        self.props = {}

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        if value is None:
            self.props.pop(key, None)
        else:
            self.props[key] = value


class ThreadContext(FakeContext):
    """Local properties per thread, as a SparkContext keeps them."""

    def __init__(self):
        self._local = threading.local()

    @property
    def props(self):
        if not hasattr(self._local, "props"):
            self._local.props = {}
        return self._local.props


def test_helper_thread_parent_is_the_submitting_span_not_a_later_sibling():
    sc = ThreadContext()
    tr = Tracer(sc)
    sibling_open = threading.Event()
    seen = []
    with tr.span("op") as op:
        with tr.span("run_suite") as run:
            # what inheritable_thread_target copies when the work is submitted
            inherited = dict(sc.props)

            def work():
                sc.props.update(inherited)
                sibling_open.wait()
                with tr.span("drift") as s:
                    seen.append(s)

            t = threading.Thread(target=work)
            t.start()
            with tr.span("row_rules") as sibling:
                sibling_open.set()
                t.join()
    assert seen[0].parent == run.id
    assert seen[0].path == "op/run_suite/drift"
    assert sibling.parent == run.id and op.parent is None
    st = self_times(tr.spans)
    assert st[sibling.id] == sibling.duration


def test_open_span_path_is_the_job_group():
    sc = FakeContext()
    tr = Tracer(sc)
    with tr.span("a"):
        with tr.span("b"):
            assert sc.props["spark.jobGroup.id"] == "a/b"
        assert sc.props["spark.jobGroup.id"] == "a"
    assert "spark.jobGroup.id" not in sc.props
