"""Driver heap sizing (session.driver_memory), checked without a JVM."""

from rap_etl_spark.session import driver_memory

GiB = 2**30


def test_default_heap_is_a_third_of_the_host_capped_at_24g(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert driver_memory(int(15.7 * GiB)) == "5358m"
    assert driver_memory(72 * GiB) == "24576m"
    assert driver_memory(256 * GiB) == "24576m"
    assert driver_memory(2 * GiB) == "1024m"  # floor on a tiny host


def test_default_heap_reads_the_host(monkeypatch):
    import os

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert driver_memory() == driver_memory(phys)


def test_explicit_driver_mem_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "6g")
    assert driver_memory(int(15.7 * GiB)) == "6g"
    assert driver_memory() == "6g"
