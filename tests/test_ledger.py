"""Ledger file contract under concurrent writers and readers (no Spark)."""

from __future__ import annotations

import os
import threading

from anomaly_detection_toolkit_spark.plans.runner import Ledger


def test_concurrent_saves_never_tear_the_ledger(tmp_path):
    """Two threads saving while a third loads: every save publishes a
    whole file, so no save fails and no load sees a partial one."""
    ledger = Ledger(str(tmp_path / "_ledger"))
    loops = 300
    errors: list[BaseException] = []
    done = threading.Event()

    def saver(tag: int) -> None:
        try:
            for i in range(loops):
                ledger.save(
                    {"snapshot_id": f"s{tag}-{i}", "completed_parts": list(range(50)),
                     "runs": []}
                )
        except BaseException as e:  # noqa: BLE001 - collected for the assert
            errors.append(e)

    def loader() -> None:
        try:
            while not done.is_set():
                state = ledger.load()
                assert len(state["completed_parts"]) in (0, 50)
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    savers = [threading.Thread(target=saver, args=(t,)) for t in range(2)]
    reader = threading.Thread(target=loader)
    reader.start()
    for t in savers:
        t.start()
    for t in savers:
        t.join()
    done.set()
    reader.join()

    assert errors == []
    assert ledger.load()["snapshot_id"] in {f"s{t}-{loops - 1}" for t in range(2)}
    assert os.listdir(ledger.dir) == ["ledger.json"]
