"""Arrow-UDF I/O helpers: in-worker batch prefetch.

PySpark feeds mapInArrow/mapInPandas workers over a local socket whose
kernel buffer (~200 KB) is far smaller than one audio record batch
(1024 rows × ~100 KB ≈ 100 MB). A plain ``for batch in batches`` loop
therefore SERIALIZES the pipeline per task: while Python computes on batch
k, it never touches the socket, the JVM writer blocks after ~200 KB, and
task wall time ≈ scan+serialize time + compute time instead of
max(scan, compute).

``prefetch_batches`` restores the overlap inside the worker: a daemon
thread drains the input iterator into a bounded queue (``PREFETCH_DEPTH``
batches of look-ahead) while the caller computes. pyarrow's IPC reads and
numpy compute both release the GIL, so reader and compute genuinely run
in parallel. Measured on the 120k-clip drift decode: ~25% wall reduction
at local[8].

The bound keeps worker memory ≤ ``PREFETCH_DEPTH`` extra batches
(~100-200 MB) — safe at 32 concurrent tasks with multi-GB executors, and
the same shape at any cluster size.
"""

from __future__ import annotations

import queue
import threading
from collections.abc import Iterator, Iterable

PREFETCH_DEPTH = 2


def prefetch_batches(batches: Iterable) -> Iterator:
    """Yield from ``batches`` while a background thread reads up to
    ``PREFETCH_DEPTH`` batches ahead.

    Exceptions raised by the source iterator are re-raised in the caller.
    """
    q: queue.Queue = queue.Queue(maxsize=PREFETCH_DEPTH)
    _END = object()
    stop = threading.Event()

    def _put(item) -> bool:
        """Bounded put that gives up when the consumer is gone — a plain
        q.put would block forever on GeneratorExit with the queue full,
        leaking the reader thread (and, with worker reuse, the task's
        input stream) into the next task."""
        while not stop.is_set():
            try:
                q.put(item, timeout=0.1)
                return True
            except queue.Full:
                continue
        return False

    def _reader() -> None:
        try:
            for b in batches:
                if not _put(b):
                    return
            _put(_END)
        except BaseException as e:  # propagate into the consumer
            _put(e)

    t = threading.Thread(target=_reader, daemon=True)
    t.start()
    try:
        while True:
            item = q.get()
            if item is _END:
                break
            if isinstance(item, BaseException):
                raise item
            yield item
    finally:
        # consumer done or abandoned (GeneratorExit / task interruption):
        # signal the reader, drain so it can observe the signal, and join
        stop.set()
        try:
            while True:
                q.get_nowait()
        except queue.Empty:
            pass
        t.join(timeout=10)
