"""Every module under minigraph_spark imports on its own. Deleting a module
must take its last top-level importer with it; this catches a dangling
import that no other test happens to load. No Spark session is started."""

import importlib
import pkgutil

import minigraph_spark


def test_every_package_module_imports():
    names = [
        m.name
        for m in pkgutil.walk_packages(minigraph_spark.__path__, "minigraph_spark.")
    ]
    assert "minigraph_spark.operators.superstep" in names
    failed = {}
    for name in names:
        try:
            importlib.import_module(name)
        except Exception as e:  # report every broken module, not the first
            failed[name] = repr(e)
    assert not failed, failed
