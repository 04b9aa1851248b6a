"""Column-level functions: projection/geodesic/cell Arrow UDFs and
JVM-side (Catalyst) expression builders.

Design rule (SURVEY.md §4.2): everything numeric that Spark can't
express natively is an Arrow UDF (`geo.kernel_udf`) over the NumPy kernel
library; everything relational stays in built-in `pyspark.sql.functions`
so it runs inside WholeStageCodegen.
"""
