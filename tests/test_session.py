"""The driver heap default of ``session.get_spark``, derived from fake
meminfo and cgroup files (no Spark session)."""

from parallel_dataflow_spark.session import default_driver_memory

HOST_KB = 16479424  # MemTotal of a 15.7 GiB host


def _file(tmp_path, name, text):
    path = tmp_path / name
    path.write_text(text)
    return str(path)


def _meminfo(tmp_path, kb=HOST_KB):
    return _file(tmp_path, "meminfo", f"MemFree: 1 kB\nMemTotal:       {kb} kB\n")


def test_quarter_of_memtotal_without_cgroup_limit(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path), ()) == "4023m"


def test_numeric_cgroup_limit_caps_memtotal(tmp_path):
    v2 = _file(tmp_path, "memory.max", f"{8 << 30}\n")
    assert default_driver_memory(_meminfo(tmp_path), (v2,)) == "2048m"


def test_unlimited_and_missing_cgroup_files_are_ignored(tmp_path):
    v2 = _file(tmp_path, "memory.max", "max\n")
    v1 = _file(tmp_path, "limit_in_bytes", "9223372036854771712\n")
    missing = str(tmp_path / "absent")
    assert default_driver_memory(_meminfo(tmp_path), (v2, v1, missing)) == "4023m"


def test_floor_on_small_hosts(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, kb=2 << 20), ()) == "1024m"
    v1 = _file(tmp_path, "limit_in_bytes", f"{1 << 30}\n")
    assert default_driver_memory(_meminfo(tmp_path), (v1,)) == "1024m"


def test_floor_without_meminfo(tmp_path):
    assert default_driver_memory(str(tmp_path / "absent"), ()) == "1024m"
