"""Physical plan layer: CSR Arrow blocks, degree-balanced partitioning, salting,
and the block-fixpoint driver (``blockiter``) over the shared slot-form.

The reference's physical layer is the BVGraph compressed adjacency file plus
its work-splitting primitives (``splitNodeIterators``,
``EliasFanoCumulativeOutdegreeList``). Here: a CSR block table (gap-encoded
successor lists inside Arrow batches) plus edge-count-balanced range
boundaries and salted two-stage reduces.
"""
