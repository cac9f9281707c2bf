import pytest


@pytest.fixture(scope="session")
def spark():
    from learn_to_compress_spark.sources.session import get_spark

    s = get_spark("local[4]", chunk_rows=2048, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def _no_var_regressor():
    """Run every test without the process-global race-pruning regressor, as
    a fresh process starts: fitting it (``learned.var_regressor_params``)
    and every exact ``encode_table`` install it in-process — module-scoped
    fixtures too, which set up before this fixture — and a leaked install
    would silently switch pruning on for later library calls and make
    results order-dependent. Tests that want it install it themselves."""
    from learn_to_compress_spark import learned

    learned._VAR_REG = None
    yield
    learned._VAR_REG = None
