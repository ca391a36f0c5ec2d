import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from picsure_dictionary_etl_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


# columnMeta.csv rows (FIXTURES.md §2.1: positional, no header) shaped
# like the NHANES demographics study: 13 continuous leaves and one SEX
# concept that two single-value categorical rows flatten to
# [female, male]; SUBJECT_ID and \examination\ fall to the study filter.
# The demographics filter yields 15 nodes (root + 14 leaves).
_DEMOGRAPHICS_CONTINUOUS = [
    ("AGE", 0.0, 85.0), ("HEIGHT", 81.5, 202.7), ("WEIGHT", 3.2, 239.4),
    ("INCOME", 0.0, 15.0), ("HOUSEHOLD", 1.0, 7.0), ("EDUCATION", 1.0, 9.0),
    ("PULSE", 34.0, 180.0), ("SYSTOLIC", 72.0, 238.0), ("DIASTOLIC", 0.0, 132.0),
    ("WAIST", 40.0, 178.0), ("HIP", 60.0, 176.0), ("CHOLESTEROL", 59.0, 704.0),
    ("GLUCOSE", 21.0, 579.0),
]
DEMOGRAPHICS_COLUMN_META = (
    "SUBJECT_ID\\,8,0,false,,2.0,41472.0,0,380670,9999,9999\n"
    + "".join(
        f"\\demographics\\{name}\\,8,0,false,,{lo},{hi},0,380670,9999,9999\n"
        for name, lo, hi in _DEMOGRAPHICS_CONTINUOUS
    )
    + "\\demographics\\SEX\\female\\,6,0,true,female,null,null,3664589,3885367,5114,5114\n"
    + "\\demographics\\SEX\\male\\,4,0,true,male,null,null,3885367,4106145,4885,4885\n"
    + "\\examination\\BMI\\,8,0,false,,12.0,70.0,0,380670,9999,9999\n"
)


@pytest.fixture
def column_meta_csv(tmp_path):
    p = tmp_path / "columnMeta.csv"
    p.write_text(DEMOGRAPHICS_COLUMN_META)
    return str(p)


@pytest.fixture
def bucket_reads(monkeypatch):
    """Records ``(files, filters)`` of every driver-side bucket read
    (``cdf_source._read_bucket``, which point lookups hand their files
    and pushed key filters to)."""
    from picsure_dictionary_etl_spark.streaming import cdf_source

    calls = []
    real = cdf_source._read_bucket

    def spy(root, rel_files, cols, dtypes, filters=None):
        calls.append((list(rel_files), filters))
        return real(root, rel_files, cols, dtypes, filters=filters)

    monkeypatch.setattr(cdf_source, "_read_bucket", spy)
    return calls
