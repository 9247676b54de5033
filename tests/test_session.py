"""Session sizing (no Spark session needed)."""

from cello_spark.session import default_driver_mem

GIB_KB = 1024 * 1024


def test_default_driver_mem_is_half_of_memtotal():
    # a 15 GB box: MemTotal just under 16 GiB; the half rounds down
    assert default_driver_mem(16_083_436) == "7g"
    assert default_driver_mem(32 * GIB_KB) == "16g"


def test_default_driver_mem_bounds():
    assert default_driver_mem(GIB_KB) == "1g"  # never below 1g
    assert default_driver_mem(512 * GIB_KB) == "24g"  # capped


def test_default_driver_mem_reads_this_box():
    mem = default_driver_mem()
    assert mem.endswith("g") and 1 <= int(mem[:-1]) <= 24
