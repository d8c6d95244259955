"""The session memo contract (namedis_spark.caching)."""

from __future__ import annotations


def test_session_memo_contract(spark):
    """Entries live on their own session, eviction is LRU and unpersists,
    and ``release`` empties the memo. New sessions keep the shared
    fixture's memo untouched."""
    from pyspark import StorageLevel

    from namedis_spark import caching
    from namedis_spark.operators.features import _irregulars_df

    s1, s2 = spark.newSession(), spark.newSession()

    # separate sessions get separate entries, each bound to its session
    irr1, irr2 = _irregulars_df(s1), _irregulars_df(s2)
    assert irr1 is not irr2
    assert irr1.sparkSession is s1 and _irregulars_df(s2).sparkSession is s2
    assert _irregulars_df(s2) is irr2

    # fill s1 to the cap, touch the lemma table, then add one more: the
    # least recently used DataFrame is evicted and no longer cached
    def persisted(i):
        return caching.tracked_persist(
            s1.range(1000 + i).selectExpr("id * 7919 AS memo_probe")
        )

    dfs = [persisted(i) for i in range(caching._CAP - 1)]
    assert len(s1._namedis_memo) == caching._CAP
    assert _irregulars_df(s1) is irr1
    dfs.append(persisted(caching._CAP))
    assert len(s1._namedis_memo) == caching._CAP
    assert dfs[0].storageLevel == StorageLevel.NONE
    assert all(d.storageLevel != StorageLevel.NONE for d in dfs[1:])
    assert irr1 in s1._namedis_memo.values()
    assert len(s2._namedis_memo) == 1

    # release empties the memo and unpersists its DataFrames
    caching.release(s1)
    assert not s1._namedis_memo
    assert all(d.storageLevel == StorageLevel.NONE for d in dfs)
    assert _irregulars_df(s2) is irr2
    caching.release(s2)
