"""Session factory defaults (sunat_rree_demo_spark/session.py)."""

from __future__ import annotations


def test_default_driver_memory_is_half_the_host_capped_at_16g(tmp_path):
    from sunat_rree_demo_spark.session import default_driver_memory

    def heap(mem_total_kb: int) -> str:
        p = tmp_path / "meminfo"
        p.write_text(f"MemFree:  1024 kB\nMemTotal: {mem_total_kb} kB\n")
        return default_driver_memory(str(p))

    assert heap(16 * 1024 * 1024) == "8192m"
    assert heap(64 * 1024 * 1024) == "16384m"
    assert default_driver_memory(str(tmp_path / "missing")) == "16g"
