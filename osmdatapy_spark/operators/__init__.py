"""Spark-first re-expressions of the reference's geometry/topology pipelines."""

from osmdatapy_spark.operators.geometry import (
    area_rule_predicate,
    close_rings,
    linestring_wkt,
    point_wkt,
    way_geom_type,
)
from osmdatapy_spark.operators.topology import topology_segments, way_endpoints
from osmdatapy_spark.operators.rings import ring_chains
from osmdatapy_spark.operators.measures import (
    nearest_in_grid,
    point_in_polygon_join,
    point_in_ring,
    point_in_rings,
    simplify_dp,
    simplify_radial,
)

__all__ = [
    "area_rule_predicate",
    "close_rings",
    "linestring_wkt",
    "point_wkt",
    "way_geom_type",
    "topology_segments",
    "way_endpoints",
    "ring_chains",
    "nearest_in_grid",
    "point_in_polygon_join",
    "point_in_ring",
    "point_in_rings",
    "simplify_dp",
    "simplify_radial",
]
