import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")

SNAPSHOT_CRS = """\
HEDR\t 2.0.0
SOFTWARE engine_test V0.1
SCHEMA\t V1.0
USER\t tester
START\t 2024-03-05 10:00:00
END\t 2024-03-05 10:00:00
SQL\t SELECT * FROM bnd_line
TABLE\tbnd_line
COLUMN\t line_id                        integer NULL
COLUMN\t seq                            integer NULL
COLUMN\t ref_id                         integer NULL
COLUMN\t flipped                        char NULL
COLUMN\t audit_id                       integer NOT NULL
DESC
SIZE          200
{CRS-DATA}
9001|1|501|Y|71001|
9002|2|502|N|71002|
9003|3|503|Y|71003|
"""

CHANGESET_CRS = """\
HEDR\t 2.0.0
SOFTWARE engine_test V0.1
SCHEMA\t V1.0
USER\t tester
START\t 2024-03-05 10:00:00
END\t 2024-03-05 11:00:00
SQL\t SELECT * FROM audit_data
TABLE\taudit_data
COLUMN\t id                             integer NOT NULL
COLUMN\t tablename                      varchar NOT NULL
COLUMN\t tablekeyvalue                  integer NOT NULL
COLUMN\t action                         char NOT NULL
COLUMN\t timestamp                      datetime NOT NULL
DESC
SIZE          300
{CRS-DATA}
1|bnd_line|71003|D|2024-03-05 10:30:00|
2|bnd_line|71100|I|2024-03-05 10:30:00|
3|bnd_line|71101|I|2024-03-05 10:30:00|
4|bnd_line|71001|U|2024-03-05 10:30:00|
5|bnd_line|71002|U|2024-03-05 10:30:00|
"""

UTF8_CRS = """\
HEDR\t 2.0.0
SOFTWARE engine_test V0.1
SCHEMA\t V1.0
USER\t tester
START\t 2024-03-05 10:00:00
END\t 2024-03-05 10:00:00
SQL\t SELECT * FROM glyphs
TABLE\t glyphs
COLUMN\t id                           int NULL
COLUMN\t des                          varchar NULL
DESC
SIZE          100
{CRS-DATA}
1|café|
2|naïve – dash|
3|Ōtaki|
4||
"""


@pytest.fixture(scope="session")
def spark():
    from linz_bde_uploader_spark.session import get_spark

    s = get_spark("tests", shuffle_partitions=4)
    yield s


@pytest.fixture
def jobs_launched(spark):
    """``jobs_launched(fn)`` runs ``fn()`` under a job group of its own and
    returns ``(fn's result, the Spark jobs it launched)``."""
    sc = spark.sparkContext

    def run(fn):
        group = f"jobs-launched-{uuid.uuid4().hex}"
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(scope="session")
def crs_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("crs")
    (d / "bnd1.crs").write_text(SNAPSHOT_CRS, encoding="utf-8")
    (d / "audit.crs").write_text(CHANGESET_CRS, encoding="utf-8")
    (d / "glyphs.crs").write_text(UTF8_CRS, encoding="utf-8")
    return d


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
