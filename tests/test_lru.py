"""The shared driver-side LRU (bliss_rs_spark/lru.py) under concurrent use:
the memos it backs (bucket probe, JVM fold, lazy idf) are hit from several
serving threads at once, and an unlocked OrderedDict LRU raised KeyError
when one thread evicted a key another was touching."""

import random
import sys
import threading

from bliss_rs_spark.lru import LRU


def test_lru_threaded_at_capacity():
    cap = 16
    lru = LRU(cap)
    errors: list[BaseException] = []
    max_seen = [0]
    seen_lock = threading.Lock()
    start = threading.Barrier(8)

    def load(missing):
        return {k: k * 10 for k in missing if k % 7}  # k % 7 == 0: negative

    def worker(seed: int) -> None:
        rng = random.Random(seed)
        try:
            start.wait()
            for _ in range(3000):
                keys = [rng.randrange(64) for _ in range(rng.randrange(1, 6))]
                got = lru.get_or_load(keys, load)
                for k in keys:
                    assert got[k] == (k * 10 if k % 7 else None), (k, got[k])
                n = len(lru)
                with seen_lock:
                    max_seen[0] = max(max_seen[0], n)
        except BaseException as e:  # noqa: BLE001 - surfaced below
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(s,)) for s in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # interleave threads as often as possible
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    finally:
        sys.setswitchinterval(interval)
    assert errors == []
    assert 0 < max_seen[0] <= cap
    assert len(lru) <= cap

    # recency: fill to capacity, touch four keys, then insert twelve new
    # ones — exactly the touched keys survive from the first fill
    lru.get_or_load(range(100, 116), load)
    touched = [103, 107, 111, 115]
    lru.get_or_load(touched, load)
    lru.get_or_load(range(200, 212), load)
    calls: list[list] = []
    lru.get_or_load(touched, lambda m: calls.append(m) or load(m))
    assert calls == []  # every touched key was still cached
    lru.get_or_load([100], lambda m: calls.append(m) or load(m))
    assert calls == [[100]]  # an untouched first-fill key was evicted
    assert len(lru) == cap
