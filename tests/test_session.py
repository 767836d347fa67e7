"""configure(): a conf the running session fixed at build time is
skipped with one warning that names it; any other error raises.
The default driver heap follows physical memory."""
import pytest
from pyspark.errors import IllegalArgumentException

import engine.session as session


def test_configure_warns_naming_the_fixed_confs(spark, monkeypatch):
    monkeypatch.setattr(session, "RUNTIME_CONFS", {
        "spark.driver.memory": "1g",  # core conf: CANNOT_MODIFY_CONFIG
        "spark.sql.warehouse.dir": "/nowhere",  # static SQL conf
        "spark.sql.session.timeZone": "UTC",  # runtime conf, applied
    })
    with pytest.warns(UserWarning) as record:
        session.configure(spark)
    assert len(record) == 1
    msg = str(record[0].message)
    assert "spark.driver.memory" in msg and "spark.sql.warehouse.dir" in msg
    assert "timeZone" not in msg
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_configure_raises_on_a_bad_value(spark, monkeypatch):
    monkeypatch.setattr(session, "RUNTIME_CONFS",
                        {"spark.sql.adaptive.enabled": "maybe"})
    with pytest.raises(IllegalArgumentException, match="INVALID_CONF_VALUE"):
        session.configure(spark)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


@pytest.mark.parametrize("gb, want", [(8, "2g"), (15, "3g"), (512, "24g")])
def test_default_driver_memory_is_a_quarter_of_ram(monkeypatch, gb, want):
    page = 4096
    sizes = {"SC_PHYS_PAGES": gb * 2**30 // page, "SC_PAGE_SIZE": page}
    monkeypatch.setattr(session.os, "sysconf", sizes.__getitem__)
    assert session.default_driver_memory() == want
