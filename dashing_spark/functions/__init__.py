"""Pure-numpy sketch kernels and vectorized hashing.

Everything in this package is whole-batch numpy (no per-row Python),
Spark-free, and unit-testable on plain arrays. The Spark layer in
``dashing_spark.operators`` wraps these in Arrow UDFs (one ``mapInArrow``
partial kernel for every sketch builder, grouped Arrow merges) and
pandas UDFs.
"""

from dashing_spark.functions import hashing
from dashing_spark.functions.hll import HLL
from dashing_spark.functions.bloom import BloomFilter
from dashing_spark.functions.cms import CountMinSketch
from dashing_spark.functions.kmv import KMV
from dashing_spark.functions.bbmh import BBitMinHash
from dashing_spark.functions.simhash import simhash_batch
from dashing_spark.functions.kll import KLL
from dashing_spark.functions.tdigest import TDigest
from dashing_spark.functions.crmh import CountingKMV
from dashing_spark.functions.hmh import HyperMinHash
from dashing_spark.functions.smh import SuperMinHash
from dashing_spark.functions.cbbmh import CountingBBitMinHash
from dashing_spark.functions.heavykeeper import HeavyKeeper
from dashing_spark.functions.serde import sketch_from_bytes

__all__ = [
    "hashing",
    "HLL",
    "BloomFilter",
    "CountMinSketch",
    "KMV",
    "BBitMinHash",
    "simhash_batch",
    "KLL",
    "TDigest",
    "CountingKMV",
    "HyperMinHash",
    "SuperMinHash",
    "CountingBBitMinHash",
    "HeavyKeeper",
    "sketch_from_bytes",
]
