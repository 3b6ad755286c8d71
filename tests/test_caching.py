"""caching.fits: the bounded size gate shared by the linker broadcast gate,
the redirect closures and the wikidata subclass gates."""

from kgforge.caching import fits


def test_fits_at_the_cap_boundary(spark):
    df = spark.range(5)
    assert fits(df, 5)
    assert fits(df, 6)
    assert not fits(df, 4)
    assert fits(spark.range(0), 1)


def test_fits_nonpositive_cap_never_fits_and_runs_no_job(spark):
    """Tests pass 0 to force the distributed path: even an empty frame does
    not fit, and no probe job is started."""
    sc = spark.sparkContext
    sc.setJobGroup("kgforge-fits-zero", "fits with a non-positive cap")
    try:
        assert not fits(spark.range(0), 0)
        assert not fits(spark.range(3), 0)
        assert not fits(spark.range(3), -1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert not sc.statusTracker().getJobIdsForGroup("kgforge-fits-zero")

