import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")


@pytest.fixture(scope="session")
def spark():
    from xml_to_parquet_spark import get_spark

    s = get_spark("tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


# the W3C XML Schema primer's purchase order document and schema
_DATA = os.path.join(os.path.dirname(__file__), "data")
REF_XML = os.path.join(_DATA, "PurchaseOrder.xml")
REF_XSD = os.path.join(_DATA, "PurchaseOrder.xsd")
