from __future__ import annotations

import pytest

from arango_etl_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("arango_etl_spark-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def arrow_reads(monkeypatch):
    """Records every ``pyarrow.dataset.dataset`` call as a dict: ``files``
    (the paths it was handed), ``dataset`` (the real dataset) and
    ``filter`` (what its ``to_table`` was given)."""
    import pyarrow.dataset as ds

    calls: list[dict] = []
    real = ds.dataset

    class Spy:
        def __init__(self, call):
            self.call = call

        def to_table(self, *args, **kwargs):
            self.call["filter"] = kwargs.get("filter")
            return self.call["dataset"].to_table(*args, **kwargs)

    def dataset(source, *args, **kwargs):
        call = {"files": list(source), "filter": None}
        call["dataset"] = real(call["files"], *args, **kwargs)
        calls.append(call)
        return Spy(call)

    monkeypatch.setattr(ds, "dataset", dataset)
    return calls
