"""Host-sized driver heap default for bench.py and the tools/ scripts."""

import io
import os

import pytest

from tools import hostmem


@pytest.fixture()
def mem_total(monkeypatch):
    # set, then delete: monkeypatch then restores the variable's
    # original state, including the value driver_mem() exports
    monkeypatch.setenv("SPARK_DRIVER_MEM", "unset-by-test")
    monkeypatch.delenv("SPARK_DRIVER_MEM")

    def set_kb(kb):
        text = f"MemTotal:       {kb} kB\nMemFree:        1024 kB\n"
        monkeypatch.setattr(hostmem, "open", lambda *_: io.StringIO(text),
                            raising=False)

    return set_kb


@pytest.mark.parametrize(
    "gib, heap", [(15, "3840m"), (64, "8192m"), (8, "2048m")]
)
def test_heap_is_quarter_of_memtotal_capped(mem_total, gib, heap):
    mem_total(gib * 1024 * 1024)
    assert hostmem.driver_mem() == heap
    assert os.environ["SPARK_DRIVER_MEM"] == heap


def test_small_host_fails_fast(mem_total):
    mem_total(6 * 1024 * 1024)
    with pytest.raises(RuntimeError, match="under the 2 GiB"):
        hostmem.driver_mem()


def test_explicit_setting_wins(monkeypatch, mem_total):
    mem_total(1024 * 1024)  # would fail if it were consulted
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert hostmem.driver_mem() == "3g"

