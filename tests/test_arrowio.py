"""prefetch_batches lifecycle: overlap, error propagation, and reader
shutdown when the consumer abandons the generator early (ADVICE r1)."""

import threading
import time

from semantic_log_detector_spark.functions.arrowio import prefetch_batches


def test_prefetch_passthrough_order_and_exhaustion():
    assert list(prefetch_batches(iter(range(100)))) == list(range(100))


def test_prefetch_propagates_source_error():
    def src():
        yield 1
        raise RuntimeError("boom")

    g = prefetch_batches(src())
    assert next(g) == 1
    try:
        next(g)
        raised = False
    except RuntimeError as e:
        raised = "boom" in str(e)
    assert raised


def test_prefetch_abandoned_consumer_stops_reader():
    before = set(threading.enumerate())
    progressed = []

    def src():
        for i in range(10_000):
            progressed.append(i)
            yield i

    g = prefetch_batches(src())
    assert next(g) == 0
    g.close()  # GeneratorExit with the queue full and the source mid-stream

    # the reader thread must observe the stop signal and exit
    deadline = time.time() + 5
    while time.time() < deadline:
        extra = [t for t in set(threading.enumerate()) - before if t.is_alive()]
        if not extra:
            break
        time.sleep(0.05)
    assert not extra, f"leaked reader threads: {extra}"
    # and the source stops being consumed
    n1 = len(progressed)
    time.sleep(0.2)
    assert len(progressed) == n1
