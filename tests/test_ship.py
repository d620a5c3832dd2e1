"""Package shipping: the tsidx zip is registered once per SparkContext."""

import threading

from tsidx import ship


def test_ensure_shipped_once_per_context_across_threads(spark, monkeypatch):
    ship.ensure_shipped(spark)
    calls = []
    real = ship.package_zip
    monkeypatch.setattr(
        ship, "package_zip", lambda d: calls.append(d) or real(d)
    )
    threads = [
        threading.Thread(target=ship.ensure_shipped, args=(spark,))
        for _ in range(2)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert calls == []
